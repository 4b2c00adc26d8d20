"""Structured Streaming tests: each streaming operator drained with
availableNow over a file source must equal its batch twin on the same
rows — Spark's unified-model guarantee, checked for real."""

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.queries import _load_events
from mini_lakehouse_control_plane_executor_spark.streaming import windows as W

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Events re-written as a clean parquet dir (µs timestamps) usable by
    both batch and file-source streaming reads."""
    path = str(tmp_path_factory.mktemp("events_stream") / "events")
    _load_events(spark, SF_DIR).repartition(2).write.parquet(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _batch(spark, event_dir):
    return spark.read.schema(W.EVENTS_SCHEMA).parquet(event_dir)


def _drain(spark, stream_df, name, mode="complete"):
    W.run_to_memory(stream_df, name, mode)
    return spark.table(name)


def _rows(df, keys):
    return sorted(df.collect(), key=lambda r: tuple(str(r[k]) for k in keys))


def test_tumbling_stream_equals_batch(spark, event_dir):
    stream = W.tumbling_counts(W.stream_events(spark, event_dir))
    batch = W.tumbling_counts(_batch(spark, event_dir))
    got = _rows(_drain(spark, stream, "t_tumbling"), ["window_start", "event_type"])
    want = _rows(batch, ["window_start", "event_type"])
    assert got == want
    assert len(want) > 0


def test_sliding_stream_equals_batch(spark, event_dir):
    stream = W.sliding_counts(W.stream_events(spark, event_dir))
    batch = W.sliding_counts(_batch(spark, event_dir))
    got = _rows(_drain(spark, stream, "t_sliding"), ["window_start"])
    want = _rows(batch, ["window_start"])
    assert got == want
    # hopping: ~2 windows per hour → more windows than tumbling
    assert len(want) > 0


def test_session_stream_equals_batch(spark, event_dir):
    stream = W.sessionize_stream(W.stream_events(spark, event_dir))
    batch = W.sessionize_stream(_batch(spark, event_dir))
    got = _rows(_drain(spark, stream, "t_session"), ["user_id", "session_start"])
    want = _rows(batch, ["user_id", "session_start"])
    assert got == want
    # every user's sessions are disjoint and ordered
    by_user = {}
    for r in want:
        by_user.setdefault(r["user_id"], []).append(r)
    for rows in by_user.values():
        for a, b in zip(rows, rows[1:]):
            assert a["session_end"] <= b["session_start"]


def test_incremental_arrival(spark, event_dir, tmp_path):
    """New files arriving between availableNow drains must be absorbed
    into the same aggregation via checkpointed state."""
    inc = str(tmp_path / "inc")
    chk = str(tmp_path / "chk")
    files = sorted(glob.glob(f"{event_dir}/part-*.parquet"))
    assert len(files) >= 2

    import os

    os.makedirs(inc, exist_ok=True)
    shutil.copy(files[0], f"{inc}/f0.parquet")

    def drain():
        q = (
            W.tumbling_counts(W.stream_events(spark, inc))
            .writeStream.format("memory")
            .queryName("t_inc")
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table("t_inc")

    first = drain().count()
    shutil.copy(files[1], f"{inc}/f1.parquet")
    second = drain()
    batch = W.tumbling_counts(_batch(spark, event_dir))
    assert _rows(second, ["window_start", "event_type"]) == _rows(
        batch, ["window_start", "event_type"]
    )
    assert first <= second.count() or first > 0


def test_stateful_user_profiles(spark, event_dir):
    from mini_lakehouse_control_plane_executor_spark.streaming.stateful import user_profiles

    stream = user_profiles(W.stream_events(spark, event_dir))
    got = _drain(spark, stream, "t_profiles", mode="update")
    # final emitted profile per user must equal the batch aggregate
    final = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_value").alias("sum_value"))
    )
    batch = (
        _batch(spark, event_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    got_rows = _rows(final, ["user_id"])
    want_rows = _rows(batch, ["user_id"])
    assert [(r.user_id, r.n_events) for r in got_rows] == [
        (r.user_id, r.n_events) for r in want_rows
    ]
    for g, w in zip(got_rows, want_rows):
        assert abs(g.sum_value - w.sum_value) < 0.05


def test_dedup_stream_equals_batch(spark, tmp_path):
    """Watermark-bounded streaming dedup must yield the same distinct
    content set as the batch twin, with injected duplicates removed."""
    base = _load_events(spark, SF_DIR).limit(200)
    dup_dir = str(tmp_path / "events_dup")
    # Inject exact duplicates (different event_id, same content).
    dupes = base.limit(50).withColumn("event_id", F.col("event_id") + 1_000_000)
    base.unionByName(dupes).repartition(2).write.parquet(dup_dir)

    stream = W.dedup_events(W.stream_events(spark, dup_dir))
    batch = W.dedup_events(_batch(spark, dup_dir))
    keys = ["ts", "user_id", "event_type", "value", "props"]
    got = _rows(_drain(spark, stream, "t_dedup", mode="append"), keys)
    want = _rows(batch, keys)
    assert got == want
    assert 0 < len(want) < 250  # duplicates actually removed


def test_stream_static_enrichment_equals_batch(spark, event_dir):
    """Stream-static broadcast join: streaming result equals the batch
    twin joined against the same static dimension."""
    static = (
        _batch(spark, event_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
    )
    stream = W.enrich_with_user_stats(W.stream_events(spark, event_dir), static)
    batch = W.enrich_with_user_stats(_batch(spark, event_dir), static)
    keys = ["ts", "user_id", "event_type", "value"]
    got = _rows(_drain(spark, stream, "t_enrich", mode="append"), keys)
    want = _rows(batch, keys)
    assert got == want and len(want) > 0
    assert all(r["user_events"] > 0 for r in got)


def test_event_fingerprint_subsecond_and_null_distinct(spark):
    """ADVICE r02: two distinct events in the same SECOND must not
    collide (µs-precision ts in the fingerprint), and NULL placement
    must be encoded per column (concat_ws silently skips nulls)."""
    from mini_lakehouse_control_plane_executor_spark.streaming.windows import dedup_events

    rows = [
        # same second, different microsecond -> distinct
        (1, "2024-01-01 00:00:00.000001", 7, "click", 1.0, "p"),
        (2, "2024-01-01 00:00:00.000002", 7, "click", 1.0, "p"),
        # null in value vs identical string in props -> distinct
        (3, "2024-01-01 00:00:01", 7, "click", None, "5.0"),
        (4, "2024-01-01 00:00:01", 7, "click", 5.0, None),
        # exact duplicate of row 3 -> deduped
        (5, "2024-01-01 00:00:01", 7, "click", None, "5.0"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = dedup_events(df)
    assert out.count() == 4


def test_stream_ingest_exactly_once(spark, lake, tmp_path):
    """foreachBatch ingest commits each micro-batch with a
    (query, batch_id) txn id; a replayed batch (at-least-once delivery
    after a crash) is a table-level no-op — exactly-once end-to-end."""
    from mini_lakehouse_control_plane_executor_spark.streaming import ingest as ing
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    src = str(tmp_path / "src")
    batch = spark.range(100).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    batch.write.parquet(src)
    lake.create_table("ingested", [Field("k", "int64"), Field("v", "string")])

    stream = (
        spark.readStream.schema("k long, v string").parquet(src)
    )
    q = ing.ingest_stream(
        stream, lake, "ingested", str(tmp_path / "ckpt"), query_name="ing-test"
    )
    q.awaitTermination(120)
    t = lake.table("ingested")
    assert t.read().count() == 100

    # Crash-replay simulation: re-deliver batch 0 with the same txn id.
    replay = spark.read.parquet(src)
    ing.write_batch(lake, "ingested", replay, "ing-test", 0)
    assert t.read().count() == 100, "replayed batch must be idempotent"

    # A genuinely NEW batch id commits normally.
    ing.write_batch(lake, "ingested", replay.limit(10), "ing-test", 1)
    assert t.read().count() == 110


def test_stream_checkpoint_and_sink_write_no_crc(spark, tmp_path):
    """A stateful availableNow batch into a file sink leaves no Hadoop
    ``.<name>.crc`` sidecar: not in its checkpoint (offsets, commits,
    state, metadata), nor in the sink's data files or its
    ``_spark_metadata`` log. The state store's own ``<name>.zip.crc``
    files are Spark's state checksums, checked when state loads."""
    import os

    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    spark.range(50).selectExpr("id % 20 AS k", "id AS v").write.parquet(src)
    q = (
        spark.readStream.schema("k long, v long").parquet(src)
        .dropDuplicates(["k"])
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(sink)
    )
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 20
    assert os.path.isdir(os.path.join(ckpt, "state"))
    crc = [
        os.path.join(d, f)
        for root in (ckpt, sink)
        for d, _, files in os.walk(root)
        for f in files
        if f.startswith(".") and f.endswith(".crc")
    ]
    assert crc == []


def test_correlation_stream_equals_batch(spark, event_dir):
    """Watermarked stream-stream time-range join must equal the
    identical batch join on the same rows (append mode: rows emit once
    both watermarks pass the join window)."""
    b = _batch(spark, event_dir)
    batch = W.correlate_events(
        b.filter(F.col("event_type") == "view"),
        b.filter(F.col("event_type") == "purchase"),
    )
    s = W.stream_events(spark, event_dir)
    stream = W.correlate_events(
        s.filter(F.col("event_type") == "view"),
        W.stream_events(spark, event_dir).filter(F.col("event_type") == "purchase"),
    )
    got = _rows(_drain(spark, stream, "t_corr", mode="append"), ["user_id", "l_ts", "r_ts"])
    want = _rows(batch, ["user_id", "l_ts", "r_ts"])
    assert got == want
    assert len(want) > 0


def test_merge_stream_exactly_once(spark, lake, tmp_path):
    """Streaming CDC upsert: each micro-batch MERGEs with a
    (query, batch_id) txn id — replays are no-ops; within-batch multiple
    updates per key compact to last-writer-wins on order_col."""
    from mini_lakehouse_control_plane_executor_spark.streaming import ingest as ing
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table(
        "cdc_t", [Field("k", "int64"), Field("v", "string"), Field("seq", "int64")]
    )
    base = spark.createDataFrame(
        [(i, f"base{i}", 0) for i in range(20)], "k long, v string, seq long"
    )
    lake.insert("cdc_t", base)

    src = str(tmp_path / "cdc_src")
    # Updates for keys 5..9 (two versions each — seq 1 then seq 2) and a
    # brand-new key 100.
    updates = spark.createDataFrame(
        [(k, f"upd{k}@1", 1) for k in range(5, 10)]
        + [(k, f"upd{k}@2", 2) for k in range(5, 10)]
        + [(100, "new", 1)],
        "k long, v string, seq long",
    )
    updates.write.parquet(src)

    stream = spark.readStream.schema("k long, v string, seq long").parquet(src)
    q = ing.merge_stream(
        stream, lake, "cdc_t", "k", str(tmp_path / "cdc_ckpt"),
        order_col="seq", query_name="cdc-test",
    )
    q.awaitTermination(120)

    t = lake.table("cdc_t")
    rows = {r.k: (r.v, r.seq) for r in t.read().collect()}
    assert len(rows) == 21  # 20 base + 1 new key, upserts in place
    for k in range(5, 10):
        assert rows[k] == (f"upd{k}@2", 2), "last writer (seq 2) must win"
    assert rows[100] == ("new", 1)
    assert rows[0] == ("base0", 0)

    v_after = t.log.latest_version()
    # Crash-replay: re-deliver batch 0 under the same txn id — no-op.
    replay = spark.read.parquet(src)
    ing.merge_batch(lake, "cdc_t", replay, "k", "cdc-test", 0, order_col="seq")
    assert t.log.latest_version() == v_after, "replayed merge must be idempotent"
    assert {r.k: (r.v, r.seq) for r in t.read().collect()} == rows

    # A NEW batch id applies normally.
    nxt = spark.createDataFrame([(100, "new@3", 3)], "k long, v string, seq long")
    ing.merge_batch(lake, "cdc_t", nxt, "k", "cdc-test", 1)
    assert {r.k: r.v for r in t.read().collect()}[100] == "new@3"


def test_cms_sketch_stream_equals_batch(spark, event_dir):
    """Streaming count-min sketch (operators/sketch.py): the cell table
    is an UNWINDOWED stateful aggregation whose state is exactly the
    fixed d*w cells — it cannot grow with the stream, so no watermark
    is needed. After draining, the cells equal the batch sketch over
    the same events, and per-key estimates (min over rows) are >= the
    true counts (the CMS guarantee), exercised for 5 sample users."""
    from mini_lakehouse_control_plane_executor_spark.operators import sketch as SK

    stream_cells = SK.cms_cells(W.stream_events(spark, event_dir), "user_id")
    batch_df = _batch(spark, event_dir)
    batch_cells = SK.cms_cells(batch_df, "user_id")

    got = _rows(_drain(spark, stream_cells, "t_cms"), ["d", "bucket"])
    want = _rows(batch_cells, ["d", "bucket"])
    assert got == want and len(want) > 0
    # State bound: never more than d*w cells.
    assert len(want) <= SK.CMS_D * SK.CMS_W

    cells = {(r.d, r.bucket): r.c for r in want}
    truth = {
        r.user_id: r.n
        for r in batch_df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sample = sorted(truth)[:5]
    buckets = {
        r.user_id: r.b
        for r in batch_df.select("user_id")
        .distinct()
        .select("user_id", SK.cms_bucket_array(F.col("user_id")).alias("b"))
        .collect()
        if r.user_id in sample
    }
    for u in sample:
        est = min(cells[(d, b)] for d, b in enumerate(buckets[u]))
        assert est >= truth[u]  # CMS never undercounts


def test_stateful_state_survives_query_restart(spark, tmp_path):
    """Arbitrary state must restore across SEPARATE query runs from the
    checkpoint (RocksDB snapshot + changelog replay), not just across
    micro-batches of one run: drain batch 1, start a NEW query on the
    same checkpoint with more data, and the running profiles must equal
    the batch aggregate over ALL rows."""
    from mini_lakehouse_control_plane_executor_spark.streaming.stateful import user_profiles

    part1 = [(1, "view", 1.0), (1, "click", 2.0), (2, "view", 3.0)]
    part2 = [(1, "view", 4.0), (2, "buy", 5.0), (3, "view", 6.0)]
    schema = "user_id long, event_type string, value double, ts timestamp"
    srcdir = tmp_path / "in"
    srcdir.mkdir()

    def add_file(rows, name):
        d = tmp_path / name
        (
            spark.createDataFrame(rows, "user_id long, event_type string, value double")
            .withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
            .coalesce(1)
            .write.parquet(str(d))
        )
        shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], str(srcdir / f"{name}.parquet"))

    out_dir = str(tmp_path / "out")

    def drain():
        # memory sinks refuse checkpoint recovery; foreachBatch +
        # parquet-append supports Update mode AND restart.
        stream = spark.readStream.schema(schema).parquet(str(srcdir))
        q = (
            user_profiles(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return spark.read.parquet(out_dir)

    add_file(part1, "f1")
    first = {r.user_id: r.n_events for r in drain().collect()}
    assert first == {1: 2, 2: 1}

    add_file(part2, "f2")
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in drain().groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
        ).collect()
    }
    # Profiles reflect part1 + part2 — state carried across query runs.
    assert got == {1: (3, 7.0), 2: (2, 8.0), 3: (1, 6.0)}


def test_bloom_stream_equals_batch(spark, event_dir):
    """Bloom-filter build as a STREAMING aggregate: bit_or is
    idempotent and map-side-combinable, so bloom_build runs unwindowed
    on a stream with state bounded by the fixed word table (the
    cms_cells discipline) — and the drained words equal the batch
    build over the same rows."""
    from mini_lakehouse_control_plane_executor_spark.operators import bloom as B

    grams = lambda df: df.select(
        F.concat_ws(" ", "event_type", F.col("user_id").cast("string")).alias("g")
    )
    batch = {
        (r.word_idx, r.bits)
        for r in B.bloom_build(grams(_batch(spark, event_dir)), "g").collect()
    }
    stream = B.bloom_build(grams(W.stream_events(spark, event_dir)), "g")
    got = {
        (r.word_idx, r.bits)
        for r in _drain(spark, stream, "t_bloom", mode="complete").collect()
    }
    assert got == batch
    assert 0 < len(batch) <= B.BLOOM_BITS // B.WORD_BITS


def test_funnel_stream_equals_batch(spark, event_dir):
    """Milestone-buffer funnel tracker (applyInPandasWithState): the
    final streamed funnel row per user equals the batch chained-min
    funnel (first signup -> first later click -> first later purchase)
    on the same rows, for every user that signed up."""
    from pyspark.sql.window import Window as SqlWindow

    from mini_lakehouse_control_plane_executor_spark.streaming.stateful import funnel_stream

    stream = funnel_stream(W.stream_events(spark, event_dir))
    got = _drain(spark, stream, "t_funnel", mode="update")
    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                SqlWindow.partitionBy("user_id").orderBy(F.col("n_seen").desc())
            ),
        )
        .filter("rn = 1 AND ts_signup IS NOT NULL")
        .select("user_id", "ts_signup", "ts_click", "ts_purchase", "funnel_depth")
    )

    e = _batch(spark, event_dir).select("user_id", "ts", "event_type")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_signup"))
    )
    c = (
        e.join(s, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("ts_signup")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_click"))
    )
    p = (
        e.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("ts_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts_purchase"))
    )
    want_df = (
        s.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "ts_signup", "ts_click", "ts_purchase",
            (
                F.lit(1)
                + F.when(F.col("ts_click").isNull(), 0).otherwise(1)
                + F.when(F.col("ts_purchase").isNull(), 0).otherwise(1)
            ).cast("int").alias("funnel_depth"),
        )
    )
    got_rows = _rows(final, ["user_id"])
    want_rows = _rows(want_df, ["user_id"])
    assert len(want_rows) > 0
    assert got_rows == want_rows


def test_hll_registers_stream_equals_batch(spark, event_dir):
    """Streaming HyperLogLog (operators/sketch.py): the register table
    is an UNWINDOWED stateful MAX whose state is exactly
    |event_types| * m registers — bounded by construction like
    cms_cells, no watermark needed. Drained registers equal the batch
    registers over the same events, the finished estimates agree, and
    the state bound holds."""
    from mini_lakehouse_control_plane_executor_spark.operators import sketch as SK

    stream_regs = SK.hll_registers(
        W.stream_events(spark, event_dir), "user_id", group_cols=["event_type"]
    )
    assert stream_regs.isStreaming
    batch_df = _batch(spark, event_dir)
    batch_regs = SK.hll_registers(batch_df, "user_id", group_cols=["event_type"])

    got = _rows(_drain(spark, stream_regs, "t_hll"), ["event_type", "bucket"])
    want = _rows(batch_regs, ["event_type", "bucket"])
    assert got == want and len(want) > 0
    n_types = batch_df.select("event_type").distinct().count()
    assert len(want) <= n_types * SK.HLL_M  # state bound

    est = {
        r.event_type: r.hll
        for r in SK.hll_estimate(
            spark.table("t_hll"), group_cols=["event_type"]
        ).collect()
    }
    truth = {
        r.event_type: r.n
        for r in batch_df.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, n in truth.items():
        # m=64 gives ~13% typical error; assert a loose 3-sigma band.
        assert abs(est[et] - n) / n < 0.5, (et, est[et], n)


def test_neardup_stream_equals_batch(spark, tmp_path):
    """Streaming MinHash-LSH near-dup detection (watermark-bounded
    stream-stream self-join on band keys, in-window Jaccard verify,
    first-collision-band emission) must find exactly the pairs its batch
    twin finds on the same rows — and actually find the planted
    near-dup clusters."""
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            "doc_id",
            "text",
            # Synthetic event time spreading docs over ~100 minutes so the
            # time-range bound and watermark do real work.
            F.expr(
                "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,cast(doc_id % 100 as int),0)"
            ).alias("ts"),
        )
    )
    doc_dir = str(tmp_path / "docs_stream")
    docs.repartition(3).write.parquet(doc_dir)
    schema = "doc_id long, text string, ts timestamp"

    stream_in = spark.readStream.schema(schema).parquet(doc_dir)
    batch_in = spark.read.schema(schema).parquet(doc_dir)
    got = _rows(
        _drain(spark, ND.neardup_pairs(stream_in), "t_neardup", mode="append"),
        ["id1", "id2"],
    )
    want = _rows(ND.neardup_pairs(batch_in), ["id1", "id2"])
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0  # planted near-dups within the gap are found
    # exactly-once emission: no pair appears twice
    assert len({(r["id1"], r["id2"]) for r in got}) == len(got)


def test_incremental_neardup_stream_equals_batch(spark, tmp_path):
    """Stream-static incremental dedup: a stream of NEW docs probing the
    static corpus band index must emit exactly the verified pairs the
    batch form emits — and agree with the registered batch
    incremental_dedup_newbatch query's pre-best-match pair set (same
    split, same threshold). The operator is STATELESS: no watermark, no
    join/dedup state."""
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus = ND.corpus_band_index(docs.filter(F.col("doc_id") % 10 < 8))
    new_batch = docs.filter(F.col("doc_id") % 10 >= 8)
    new_dir = str(tmp_path / "new_docs")
    new_batch.repartition(2).write.parquet(new_dir)
    schema = "doc_id long, text string"

    stream_in = spark.readStream.schema(schema).parquet(new_dir)
    got = _rows(
        _drain(
            spark,
            ND.incremental_neardup_stream(stream_in, corpus),
            "t_incr_neardup",
            mode="append",
        ),
        ["new_id", "old_id"],
    )
    want = _rows(
        ND.incremental_neardup_stream(
            spark.read.schema(schema).parquet(new_dir), corpus
        ),
        ["new_id", "old_id"],
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0
    assert len({(r["new_id"], r["old_id"]) for r in got}) == len(got)
    # Consistency with the registered batch query: every best-match row
    # it reports must be one of the streamed pairs.
    from mini_lakehouse_control_plane_executor_spark import queries as qlib

    best = qlib.all_queries()["incremental_dedup_newbatch"](spark, SF_DIR).collect()
    pairs = {(r["new_id"], r["old_id"]) for r in got}
    assert len(best) > 0
    for b in best:
        assert (b["new_id"], b["dup_of"]) in pairs


def test_neardup_stream_state_survives_restart(spark, tmp_path):
    """The watermarked band-key self-join must buffer its join state in
    the checkpoint ACROSS query runs: a doc arriving in run 2 pairs with
    its near-dup from run 1 only if run 1's band rows were restored.
    Final pair set must equal the batch twin over all rows."""
    import glob as _glob

    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND

    t0 = "2024-01-01 00:00:00"
    base = "alpha beta gamma delta epsilon zeta eta theta"
    other = "totally different words appear here entirely unrelated text"
    part1 = [(1, base, t0), (2, other, t0)]
    part2 = [(11, base, "2024-01-01 00:10:00")]  # near-dup of doc 1, next run
    schema = "doc_id long, text string, ts timestamp"
    srcdir = tmp_path / "in"
    srcdir.mkdir()

    def add_file(rows, name):
        d = tmp_path / name
        (
            spark.createDataFrame(rows, "doc_id long, text string, ts string")
            .selectExpr("doc_id", "text", "cast(ts as timestamp) ts")
            .coalesce(1)
            .write.parquet(str(d))
        )
        shutil.copy(
            _glob.glob(str(d / "part-*.parquet"))[0], str(srcdir / f"{name}.parquet")
        )

    out_dir = str(tmp_path / "out")

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(srcdir))
        q = (
            ND.neardup_pairs(stream)
            .writeStream.foreachBatch(
                lambda df, _id: df.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)
        return spark.read.parquet(out_dir)

    add_file(part1, "f1")
    assert drain().count() == 0  # no pairs within run 1
    add_file(part2, "f2")
    got = sorted((r.id1, r.id2, r.jaccard) for r in drain().collect())
    # The cross-run pair exists only if run 1's join state was restored.
    assert got == [(1, 11, 1.0)]
    want = sorted(
        (r.id1, r.id2, r.jaccard)
        for r in ND.neardup_pairs(
            spark.read.schema(schema).parquet(str(srcdir))
        ).collect()
    )
    assert got == want


def test_quantile_hist_stream_equals_batch(spark, event_dir):
    """Streaming fixed-width histogram quantile sketch: the cell table
    is an unwindowed stateful aggregation whose state is bounded at
    |groups|*nb cells; drained cells equal the batch sketch, and the
    estimated p50/p90/p99 derived from them are within one bucket width
    of the DISCRETE per-group quantiles."""
    from mini_lakehouse_control_plane_executor_spark.operators import sketch as SK

    stream_cells = SK.quantile_hist_cells(
        W.stream_events(spark, event_dir), "event_type", "value"
    )
    batch_df = _batch(spark, event_dir)
    batch_cells = SK.quantile_hist_cells(batch_df, "event_type", "value")
    got = _rows(_drain(spark, stream_cells, "t_qhist"), ["g", "bucket"])
    want = _rows(batch_cells, ["g", "bucket"])
    assert got == want and len(want) > 0
    n_groups = batch_df.select("event_type").distinct().count()
    assert len(want) <= n_groups * SK.QH_NB  # state bound

    est = {
        r.g: (r.est_p50, r.est_p90, r.est_p99)
        for r in SK.quantiles_from_cells(batch_cells, [50, 90, 99]).collect()
    }
    disc = {
        r.g: (r.d50, r.d90, r.d99)
        for r in batch_df.groupBy(F.col("event_type").alias("g")).agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("d50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").alias("d90"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").alias("d99"),
        ).collect()
    }
    assert set(est) == set(disc)
    for g in est:
        for e, d in zip(est[g], disc[g]):
            assert abs(e - d) <= SK.QH_W  # one-bucket error bound


def test_dedup_gated_ingest_exactly_once(spark, lake, tmp_path):
    """Dedup-gated streaming ingest: docs near-duplicating the existing
    corpus are dropped per micro-batch, survivors land in the lakehouse
    table exactly once (idempotent batch txns), and a re-drain over the
    same checkpoint commits nothing new."""
    from mini_lakehouse_control_plane_executor_spark.streaming import ingest as ING
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field as Fld

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    corpus_docs = docs.filter(F.col("doc_id") % 10 < 8)
    new_docs = docs.filter(F.col("doc_id") % 10 >= 8)
    index = ND.corpus_band_index(corpus_docs)

    new_dir = str(tmp_path / "arriving")
    new_docs.repartition(2).write.parquet(new_dir)
    schema = "doc_id long, text string"

    lake.create_table(
        "docs_clean", [Fld("doc_id", "int64", False), Fld("text", "string", True)]
    )
    stream = spark.readStream.schema(schema).parquet(new_dir)
    q = ING.dedup_gated_ingest(
        stream, lake, "docs_clean", index, str(tmp_path / "ckpt")
    )
    q.awaitTermination(240)

    arrived_df = spark.read.schema(schema).parquet(new_dir)
    flagged = {
        r.new_id
        for r in ND.incremental_neardup_stream(arrived_df, index).collect()
    }
    # the whole directory drains as ONE micro-batch (no
    # maxFilesPerTrigger), so the in-batch gate's expected drops are the
    # lower-id-neighbor losers over the full arriving set.
    intra = {
        r.doc_id for r in ND.intra_batch_neardup_losers(arrived_df).collect()
    }
    landed = {r.doc_id for r in lake.table("docs_clean").read().collect()}
    arriving = {r.doc_id for r in new_docs.collect()}
    assert len(flagged) > 0  # the gate did real work
    assert landed == arriving - flagged - intra
    v = lake.table("docs_clean").log.latest_version()

    # Re-drain over the same checkpoint: no new batches, nothing commits.
    q2 = ING.dedup_gated_ingest(
        spark.readStream.schema(schema).parquet(new_dir),
        lake,
        "docs_clean",
        index,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(240)
    assert lake.table("docs_clean").log.latest_version() == v
    assert {r.doc_id for r in lake.table("docs_clean").read().collect()} == landed


def test_kmv_sketch_stream_equals_batch(spark, event_dir):
    """Streaming KMV (bottom-k) sketch: per-group state is the k
    smallest user hashes — bounded O(k) by construction (bottom-k is
    exactly mergeable across micro-batches), no watermark needed. Each
    group's final emission must equal the batch bottom-k sketch over
    the same events."""
    from mini_lakehouse_control_plane_executor_spark.operators import sketch as SK
    from mini_lakehouse_control_plane_executor_spark.streaming import stateful as ST

    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    stream = ST.kmv_sketch_stream(
        W.stream_events(spark, event_dir).select("event_type", h.alias("h")),
        "event_type",
        "h",
    )
    got_all = _drain(spark, stream, "t_kmv", mode="update").collect()
    # Final emission per group = the row with the largest update counter.
    got = {}
    upd = {}
    for r in got_all:
        if r.upd >= upd.get(r.g, 0):
            upd[r.g] = r.upd
            got[r.g] = list(r.sk)
    batch = SK.kmv_bottom_k(
        _batch(spark, event_dir).select("event_type", h.alias("h")),
        "event_type",
        "h",
    )
    want = {r.g: list(r.sk) for r in batch.collect()}
    assert got == want and len(want) > 0
    for sk in want.values():
        assert sk == sorted(sk) and len(sk) <= SK.KMV_K


def test_bootstrap_sums_stream_equals_batch(spark, tmp_path):
    """Streaming Poisson-bootstrap replica sums: per-source O(B) state
    (plain integer sums — exactly mergeable across micro-batches, no
    watermark). The drained final state must equal the batch
    (source, replica) aggregate row-for-row — same md5-derived weights,
    same integer sums, so the derived CI is identical by construction."""
    from mini_lakehouse_control_plane_executor_spark import queries as qlib
    from mini_lakehouse_control_plane_executor_spark.operators import text as TX
    from mini_lakehouse_control_plane_executor_spark.streaming import stateful as ST

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "source", F.size(TX.tokens(F.col("text"))).alias("n"))
    )
    path = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(path)

    stream = ST.bootstrap_sums_stream(
        spark.readStream.schema("doc_id long, source string, n int").parquet(path)
    )
    got_all = _drain(spark, stream, "t_boot", mode="update").collect()
    got, upd = {}, {}
    for r in got_all:
        if r.upd >= upd.get(r.source, 0):
            upd[r.source] = r.upd
            got[r.source] = (list(r.swn), list(r.sw))

    # Batch twin: the query's replica aggregation, re-derived.
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("b").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = F.lit(7)
    for k in reversed(range(len(qlib._POIS_T))):
        w = F.when(F.col("h") < qlib._POIS_T[k], F.lit(k)).otherwise(w)
    rep = (
        docs.select(
            "doc_id",
            "source",
            "n",
            F.explode(F.sequence(F.lit(0), F.lit(qlib._BOOT_B - 1))).alias("b"),
        )
        .withColumn("h", h)
        .withColumn("w", w)
        .groupBy("source", "b")
        .agg(
            F.sum(F.col("w").cast("long") * F.col("n")).alias("swn"),
            F.sum(F.col("w").cast("long")).alias("sw"),
        )
    )
    want = {}
    for r in rep.collect():
        swn, sw = want.setdefault(
            r.source, ([0] * qlib._BOOT_B, [0] * qlib._BOOT_B)
        )
        swn[r.b] = r.swn
        sw[r.b] = r.sw
    assert set(got) == set(want) and len(want) > 0
    for src in want:
        assert got[src] == want[src], src


def test_winnowing_index_stream_equals_batch(spark, tmp_path):
    """Streaming winnowing copy-detection index: per-fingerprint state
    is capped at max-df + 1 = 9 members by the MOSS drop-common gate
    itself (deadness is monotone, so the cap is arrival-order
    independent). The drained LIVE states (2..8 members) must equal the
    batch df-gated fingerprint index exactly — which makes every
    derived shared-fingerprint pair identical to the batch query's."""
    from mini_lakehouse_control_plane_executor_spark.operators import dedup as D
    from mini_lakehouse_control_plane_executor_spark.streaming import stateful as ST

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(path)

    stream = ST.winnowing_index_stream(
        D.winnowing_fingerprints_map(
            spark.readStream.schema("doc_id long, text string").parquet(path),
            "doc_id",
            "text",
        )
    )
    got_all = _drain(spark, stream, "t_winnow", mode="update").collect()
    final, upd = {}, {}
    for r in got_all:
        if r.upd >= upd.get(r.h, 0):
            upd[r.h] = r.upd
            final[r.h] = list(r.docs)
    got_live = {
        h: tuple(ds) for h, ds in final.items() if 2 <= len(ds) <= D.WINNOW_MAX_DF
    }

    fpm = D.winnowing_fingerprints_map(docs, "doc_id", "text")
    want_all = {
        r.h: sorted(r.ds)
        for r in fpm.groupBy("h")
        .agg(F.collect_set("doc_id").alias("ds"))
        .collect()
    }
    want_live = {
        h: tuple(ds)
        for h, ds in want_all.items()
        if 2 <= len(ds) <= D.WINNOW_MAX_DF
    }
    assert got_live == want_live and len(want_live) > 0
    # dead fingerprints are truncated at the cap, never grown past it
    for h, ds in final.items():
        assert len(ds) <= D.WINNOW_MAX_DF + 1
        if len(ds) == D.WINNOW_MAX_DF + 1:
            assert len(want_all[h]) > D.WINNOW_MAX_DF


def test_dedup_gated_ingest_cross_batch_augmented(spark, lake, tmp_path):
    """augment_index=True closes the cross-micro-batch gap: two novel
    near-duplicate docs arriving in DIFFERENT micro-batches commit
    exactly one survivor (the pinned-index mode would land both); a
    novel control doc in the later batch still lands; a re-drain over
    the same checkpoint commits nothing; and after a restart the gate
    rebuilt from the committed table (band_index_from_table) keeps
    gating near-dups of previously committed survivors."""
    import os

    from mini_lakehouse_control_plane_executor_spark.streaming import ingest as ING
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field as Fld

    corpus = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 < 8)
    )
    index = ND.corpus_band_index(corpus)

    # Synthetic vocab disjoint from the corpus so only A/B/A' pair up.
    words = [f"zv{i}qx" for i in range(40)]
    doc_a = (9001, " ".join(words))
    doc_b = (9002, " ".join(words[:-1] + ["zvENDqx"]))  # ~0.88 jaccard vs A
    doc_c = (9003, " ".join(f"um{i}ra" for i in range(40)))  # novel control
    schema = "doc_id long, text string"

    arriving = tmp_path / "arriving"
    arriving.mkdir()

    def _drop_file(rows, fname, mtime):
        # The file stream source does not recurse into subdirectories:
        # stage the parquet write, then move its single part file to the
        # watched dir's TOP level with a deterministic mod time (the
        # source processes files in mod-time order).
        stage = str(tmp_path / f"stage_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = str(arriving / f"{fname}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))

    now = 1_700_000_000
    _drop_file([doc_a], "b1", now)
    _drop_file([doc_b, doc_c], "b2", now + 100)

    lake.create_table(
        "docs_gated", [Fld("doc_id", "int64", False), Fld("text", "string", True)]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arriving))
    )
    q = ING.dedup_gated_ingest(
        stream, lake, "docs_gated", index, str(tmp_path / "ckpt"), augment_index=True
    )
    q.awaitTermination(240)

    landed = {r.doc_id for r in lake.table("docs_gated").read().collect()}
    assert doc_c[0] in landed  # the gate does not over-block novel docs
    assert len(landed & {doc_a[0], doc_b[0]}) == 1  # exactly one survivor
    v = lake.table("docs_gated").log.latest_version()

    # Re-drain over the same checkpoint: no new batches, nothing commits.
    q2 = ING.dedup_gated_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arriving)),
        lake,
        "docs_gated",
        index,
        str(tmp_path / "ckpt"),
        augment_index=True,
    )
    q2.awaitTermination(240)
    assert lake.table("docs_gated").log.latest_version() == v

    # Restart recovery: a near-dup of the A/B survivor arrives after the
    # query (and its in-memory augmentation) died; the index rebuilt
    # from the committed table still gates it.
    doc_a2 = (9004, " ".join(words[:-1] + ["zvTAILqx"]))
    _drop_file([doc_a2], "b3", now + 200)
    idx2 = ING.band_index_from_table(lake, "docs_gated")
    q3 = ING.dedup_gated_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arriving)),
        lake,
        "docs_gated",
        idx2,
        str(tmp_path / "ckpt"),
        augment_index=True,
    )
    q3.awaitTermination(240)
    final = {r.doc_id for r in lake.table("docs_gated").read().collect()}
    assert doc_a2[0] not in final  # gated by the rebuilt index
    assert final == landed


def test_dedup_gated_ingest_in_batch_gate(spark, lake, tmp_path):
    """The in-batch gate: two near-duplicate NOVEL docs arriving in the
    SAME micro-batch commit exactly one survivor — the min doc_id — a
    control doc in the same batch still lands, no two landed docs are
    near-duplicates, and a re-drain over the same checkpoint commits
    nothing (replay-stable)."""
    import os

    from mini_lakehouse_control_plane_executor_spark.streaming import ingest as ING
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field as Fld

    corpus = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 < 8)
    )
    index = ND.corpus_band_index(corpus)

    # Synthetic vocab disjoint from the corpus so only A/B pair up.
    words = [f"wj{i}pk" for i in range(40)]
    doc_a = (9101, " ".join(words))
    doc_b = (9102, " ".join(words[:-1] + ["wjENDpk"]))  # ~0.88 jaccard vs A
    doc_c = (9103, " ".join(f"on{i}le" for i in range(40)))  # novel control
    schema = "doc_id long, text string"

    arriving = tmp_path / "arriving"
    arriving.mkdir()
    stage = str(tmp_path / "stage_b1")
    spark.createDataFrame([doc_a, doc_b, doc_c], schema).coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), str(arriving / "b1.parquet"))

    lake.create_table(
        "docs_inbatch", [Fld("doc_id", "int64", False), Fld("text", "string", True)]
    )
    q = ING.dedup_gated_ingest(
        spark.readStream.schema(schema).parquet(str(arriving)),
        lake,
        "docs_inbatch",
        index,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(240)

    landed = {r.doc_id for r in lake.table("docs_inbatch").read().collect()}
    assert doc_c[0] in landed  # the gate does not over-block novel docs
    assert landed & {doc_a[0], doc_b[0]} == {doc_a[0]}  # min id survives
    v = lake.table("docs_inbatch").log.latest_version()

    # Re-drain over the same checkpoint: no new batches, nothing commits.
    q2 = ING.dedup_gated_ingest(
        spark.readStream.schema(schema).parquet(str(arriving)),
        lake,
        "docs_inbatch",
        index,
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(240)
    assert lake.table("docs_inbatch").log.latest_version() == v
    assert {r.doc_id for r in lake.table("docs_inbatch").read().collect()} == landed


def test_intra_batch_losers_chain_semantics(spark):
    """The documented contract of intra_batch_neardup_losers on a
    chain A~B~C (A!~C): the rule drops any doc with a LOWER-id verified
    neighbor — B (neighbor A) AND C (neighbor B, even though B itself
    is dropped) — recall-conservative over-deletion, never
    under-deletion; and the kept set contains no verified near-dup
    pair. A mutual group keeps exactly its min id."""
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND

    words = [f"ch{i}qz" for i in range(40)]
    # 3-gram shingle Jaccard (the verify metric): A~B share 36/40
    # trigrams (0.90); B~C share 35/41 (0.85); A~C share only 33/43
    # (0.77 — below the 0.8 threshold): a true chain.
    doc_a = (1, " ".join(words))
    doc_b = (2, " ".join(words[:-2] + ["chENDqz", "chTLqz"]))
    doc_c = (3, " ".join(
        ["chHDqz", "chH2qz", "chH3qz"] + words[3:-2] + ["chENDqz", "chTLqz"]
    ))
    docs = spark.createDataFrame([doc_a, doc_b, doc_c], "doc_id long, text string")

    # sanity: the pair structure is actually a chain at threshold 0.8
    from mini_lakehouse_control_plane_executor_spark.operators.dedup import jaccard_pairs

    exact = {
        (r.id1, r.id2)
        for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert exact == {(1, 2), (2, 3)}, exact

    losers = {r.doc_id for r in ND.intra_batch_neardup_losers(docs).collect()}
    assert losers == {2, 3}, losers  # min id (1) survives; C dropped via B


def test_audio_frame_rms_stream_equals_batch(spark, tmp_path):
    """The multimodal audio pipeline is a stateless Arrow map, so it
    runs unchanged on a streaming DataFrame — the first multimodal
    member of the stream≡batch matrix: per-doc frame stats from the
    file-source stream must equal the batch run on the same rows."""
    from mini_lakehouse_control_plane_executor_spark.operators import multimodal as MM

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "n_chars")
        .limit(200)
    )
    src = str(tmp_path / "docs_stream")
    docs.repartition(2).write.parquet(src)
    schema = "doc_id long, n_chars long"

    stream = MM.audio_frame_rms(spark.readStream.schema(schema).parquet(src))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_audio_rms")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = sorted(
        spark.table("t_audio_rms").collect(), key=lambda r: r.doc_id
    )
    want = sorted(
        MM.audio_frame_rms(spark.read.schema(schema).parquet(src)).collect(),
        key=lambda r: r.doc_id,
    )
    assert got == want
    assert len(want) > 0


def test_dedup_gated_ingest_periodic_index_rebuild(spark, lake, tmp_path):
    """index_rebuild_every=1 swaps the in-memory augmented chain for a
    reliable index rebuilt from the committed table after every batch —
    the long-running-stream durability option. Gating semantics must be
    unchanged: a batch-2 near-dup of the batch-1 survivor is dropped
    (the rebuilt index carries the survivor), a novel batch-2 doc
    lands, and — the external-corpus deployment (corpus NOT in the
    table, the default corpus_in_table=False) — a batch-3 VERBATIM
    copy of an original corpus doc is still dropped after two rebuilds
    have replaced the in-memory chain (the rebuild unions the caller's
    corpus index back in; without that union the corpus gating would
    silently vanish at the first rebuild)."""
    import os

    from mini_lakehouse_control_plane_executor_spark.streaming import ingest as ING
    from mini_lakehouse_control_plane_executor_spark.streaming import neardup as ND
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field as Fld

    corpus = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 < 8)
    )
    index = ND.corpus_band_index(corpus)

    corpus_text = corpus.orderBy("doc_id").first().text

    words = [f"rb{i}vu" for i in range(40)]
    doc_a = (9201, " ".join(words))                               # batch 1
    doc_a2 = (9202, " ".join(words[:-1] + ["rbENDvu"]))           # ~0.88 vs A
    doc_c = (9203, " ".join(f"iq{i}om" for i in range(40)))       # novel
    doc_d = (9204, corpus_text)                                   # corpus copy
    doc_e = (9205, " ".join(f"zw{i}ak" for i in range(40)))       # novel
    schema = "doc_id long, text string"

    arriving = tmp_path / "arriving"
    arriving.mkdir()

    def _drop_file(rows, fname, mtime):
        stage = str(tmp_path / f"stage_{fname}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = str(arriving / f"{fname}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (mtime, mtime))

    now = 1_700_000_000
    _drop_file([doc_a], "b1", now)
    _drop_file([doc_a2, doc_c], "b2", now + 100)
    _drop_file([doc_d, doc_e], "b3", now + 200)

    lake.create_table(
        "docs_rebuild", [Fld("doc_id", "int64", False), Fld("text", "string", True)]
    )
    q = ING.dedup_gated_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(arriving)),
        lake,
        "docs_rebuild",
        index,
        str(tmp_path / "ckpt"),
        augment_index=True,
        index_rebuild_every=1,
    )
    q.awaitTermination(240)

    landed = {r.doc_id for r in lake.table("docs_rebuild").read().collect()}
    assert doc_a[0] in landed      # batch-1 survivor committed
    assert doc_a2[0] not in landed # gated by the REBUILT index
    assert doc_c[0] in landed      # novel control still lands
    # batch 3 runs against an index that has been REBUILT twice: the
    # union of the caller's corpus index must keep gating corpus dups
    assert doc_d[0] not in landed  # verbatim corpus copy still gated
    assert doc_e[0] in landed      # novel control still lands


def test_ivf_assign_stream_equals_batch_window(spark, tmp_path):
    """The streaming-safe IVF assignment (literal-centroid argmax as a
    pure row expression — operators/similarity.py::ivf_assign) drained
    over a file stream must equal the BATCH quantizer semantics (the
    broadcast + per-vector window argmax of
    ann_ivf_incremental_assign) vector for vector, tie-breaking
    included: max round(cosine, 6) then min cent_id. This is the
    incremental index-update path — appended vectors quantized
    per micro-batch without touching the committed corpus."""
    from mini_lakehouse_control_plane_executor_spark.operators import similarity as S

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cents = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 16).collect()
    ]
    new = emb.filter(F.col("vec_id") >= 16)
    src = str(tmp_path / "vec_stream")
    new.repartition(3).write.parquet(src)

    # batch witness: the window-argmax form the registered query uses
    base = new.select("vec_id", S._as_double(F.col("embedding")).alias("v"))
    ctab = spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cent_id long, cv array<double>"
    )
    scored = base.crossJoin(F.broadcast(ctab)).select(
        "vec_id",
        "cent_id",
        F.round(S.cosine(F.col("v"), F.col("cv")), 6).alias("sim"),
    )
    from pyspark.sql import Window as Wnd

    wv = Wnd.partitionBy("vec_id").orderBy(F.desc("sim"), F.col("cent_id"))
    want = {
        (r["vec_id"], r["cent_id"])
        for r in scored.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id")
        .collect()
    }

    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>"
    ).parquet(src)
    assigned = S.ivf_assign(stream, "embedding", cents).select("vec_id", "cent_id")
    q = (
        assigned.writeStream.format("memory")
        .queryName("ivf_assign_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["vec_id"], r["cent_id"])
        for r in spark.table("ivf_assign_stream").collect()
    }
    assert got == want
    assert len(got) == new.count()
    # the fixture must actually exercise >1 cell
    assert len({c for _, c in got}) > 1


def test_image_block_stats_stream_equals_batch(spark, tmp_path):
    """The multimodal image pipeline (decode + 2x2 integer pool +
    channel sums) is a stateless Arrow map, so it runs unchanged on a
    streaming DataFrame — the image member of the stream≡batch matrix,
    variable per-doc image shapes included."""
    from mini_lakehouse_control_plane_executor_spark.operators import multimodal as MM

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .limit(200)
    )
    src = str(tmp_path / "img_stream")
    docs.repartition(2).write.parquet(src)
    schema = "doc_id long"

    stream = MM.image_block_stats(spark.readStream.schema(schema).parquet(src))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_img_block")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = sorted(spark.table("t_img_block").collect(), key=lambda r: r.doc_id)
    want = sorted(
        MM.image_block_stats(spark.read.schema(schema).parquet(src)).collect(),
        key=lambda r: r.doc_id,
    )
    assert got == want
    assert len(want) > 0
    # the fixture really exercises variable shapes
    assert len({(r.width, r.height) for r in want}) > 1


def test_moments_sums_stream_equals_batch(spark, event_dir):
    """The moments sketch (count + four integer power sums per event
    type) is a PLAIN algebraic aggregate, so its streaming twin needs
    no custom state operator — Structured Streaming's incremental
    aggregation state is the sketch. The drained complete-mode table
    must equal the batch sums bit-exactly (decimal accumulators, no
    floats anywhere), which is the mergeability claim of
    events_moments_skew_kurtosis made executable."""
    stream = W.moments_sums(W.stream_events(spark, event_dir))
    batch = W.moments_sums(_batch(spark, event_dir))
    got = _rows(_drain(spark, stream, "t_moments"), ["event_type"])
    want = _rows(batch, ["event_type"])
    assert got == want
    assert len(want) > 0


def test_mg_sketch_stream_equals_batch(spark, event_dir):
    """Streaming Misra-Gries cells (operators/sketch.py): the
    (node, key) exact-count table is an unwindowed stateful aggregation
    (state bounded by |nodes| x |active keys| — the bounded-universe
    deployment; unbounded universes prune per trigger instead, trading
    the bit-exact drain). Drained cells equal the batch cells, and the
    deterministic prune applied to the drained state equals the batch
    summary row-for-row — the mergeable-summaries contract: prune is a
    pure function of the mergeable state."""
    from mini_lakehouse_control_plane_executor_spark.operators import sketch as SK

    node = SK.mg_node_hash(F.col("event_id"), SK.MG_P)
    stream_cells = SK.mg_node_counts(W.stream_events(spark, event_dir), "user_id", node)
    batch_df = _batch(spark, event_dir)
    batch_cells = SK.mg_node_counts(batch_df, "user_id", node)

    got = _rows(_drain(spark, stream_cells, "t_mg"), ["node", "key"])
    want = _rows(batch_cells, ["node", "key"])
    assert got == want and len(want) > 0

    drained = spark.createDataFrame(got, batch_cells.schema)
    got_summary = _rows(SK.mg_prune(drained, k=4), ["node", "key"])
    want_summary = _rows(SK.mg_prune(batch_cells, k=4), ["node", "key"])
    assert got_summary == want_summary and len(want_summary) > 0
    # Summary bound: at most k survivors per node, est never above exact.
    from collections import Counter

    per_node = Counter(r.node for r in want_summary)
    assert max(per_node.values()) <= 4
    exact = {(r.node, r.key): r.c for r in want}
    assert all(r.s <= exact[(r.node, r.key)] for r in want_summary)


def test_value_histogram_stream_equals_batch(spark, event_dir):
    """The exact (event_type, centi-value) histogram that backs
    events_ks_two_sample and events_value_equidepth_digest, run as a
    stream: a plain unwindowed stateful aggregation whose state is the
    value-vocabulary-bounded cell table, exactly mergeable by addition.
    Drained cells equal the batch histogram bit-for-bit — the read-time
    derivations (ECDF cross products, digest centroids, fixed-width
    buckets) are pure functions of these cells, so the batch queries'
    streaming twins are free."""

    def hist(df):
        return (
            df.select(
                "event_type",
                F.round(F.col("value") * 100).cast("long").alias("xc"),
            )
            .groupBy("event_type", "xc")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    got = _rows(
        _drain(spark, hist(W.stream_events(spark, event_dir)), "t_vhist"),
        ["event_type", "xc"],
    )
    want = _rows(hist(_batch(spark, event_dir)), ["event_type", "xc"])
    assert got == want and len(want) > 0


def test_langid_model_stream_equals_batch(spark, tmp_path):
    """The NB language-ID training state ((lang, bucket) trigram
    counts) drained from a document stream equals the batch counts
    bit-for-bit — continuous model refresh is a plain unwindowed
    stateful aggregation with |langs| x 1024-bounded state, and the
    model weights the scoring query derives are a pure function of
    these cells."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("lang", "text")
    doc_dir = str(tmp_path / "langid_docs")
    docs.repartition(3).write.parquet(doc_dir)
    schema = "lang string, text string"

    stream_in = spark.readStream.schema(schema).parquet(doc_dir)
    batch_in = spark.read.schema(schema).parquet(doc_dir)
    got = _rows(
        _drain(spark, W.langid_model_counts(stream_in), "t_langid"), ["lang", "b"]
    )
    want = _rows(W.langid_model_counts(batch_in), ["lang", "b"])
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(want) > 0
    # state-bound contract: at most |langs| x 1024 cells
    langs = {r["lang"] for r in want}
    assert len(want) <= len(langs) * 1024
