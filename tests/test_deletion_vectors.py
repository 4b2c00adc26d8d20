"""Merge-on-read DELETE via deletion vectors (the public Delta/Iceberg
design): matching row positions are committed as a per-file dv parquet
instead of rewriting data files; reads apply the dv, compaction
materializes it, RESTORE undoes it, vacuum reclaims superseded dv files.
The reference has no row deletes at all (``rest_api.go:676-687``); the
copy-on-write DELETE was already beyond-reference surface, and this adds
the write-amplification lever a selective 100 TB DELETE needs."""

import os

import pytest
from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [Field("k", "int64"), Field("v", "string"), Field("x", "float64")]


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("x"),
    )


def _mk(lake, spark, n=100, name="t"):
    lake.create_table(name, SCHEMA)
    lake.insert(name, _df(spark, 0, n))
    return lake.table(name)


def test_mor_delete_basics(lake, spark):
    """Rows disappear, data files stay byte-identical (only a dv commit
    lands), time travel still sees the pre-delete rows, and the snapshot
    keeps the SAME path with the dv pointer attached."""
    t = _mk(lake, spark)
    pre = t.snapshot()
    sizes = {
        f.path: os.path.getsize(os.path.join(t.dir, f.path)) for f in pre.files
    }
    v, n = t.delete("k < 10", mode="merge-on-read")
    assert n == 10 and v == pre.version + 1
    assert t.read().count() == 90
    assert t.read().filter(F.col("k") < 10).count() == 0
    assert t.read(version=pre.version).count() == 100  # time travel intact
    post = t.snapshot()
    assert {f.path for f in post.files} == {f.path for f in pre.files}
    for f in post.files:
        # physical files untouched
        assert os.path.getsize(os.path.join(t.dir, f.path)) == sizes[f.path]
    dv = [f for f in post.files if f.dv_path]
    assert dv and sum(f.dv_rows for f in dv) == 10
    assert all(f.rows >= f.dv_rows for f in dv)


def test_mor_delete_accumulates(lake, spark):
    """A second merge-on-read delete unions positions into a NEW dv file
    (monotone per-file growth) and never recounts already-deleted rows."""
    t = _mk(lake, spark)
    _, n1 = t.delete("k < 10", mode="mor")
    first_dvs = {f.path: f.dv_path for f in t.snapshot().files if f.dv_path}
    # overlapping predicate: k < 15 matches 5 LIVE rows only
    _, n2 = t.delete("k < 15", mode="mor")
    assert (n1, n2) == (10, 5)
    assert t.read().count() == 85
    post = {f.path: f for f in t.snapshot().files if f.dv_path}
    for path, f in post.items():
        if path in first_dvs:
            assert f.dv_path != first_dvs[path]  # superseded, not mutated
    assert sum(f.dv_rows for f in post.values()) == 15


def test_mor_delete_null_predicate_semantics(lake, spark):
    """SQL DELETE semantics: only predicate-TRUE rows are deleted; rows
    where it evaluates NULL survive."""
    lake.create_table("t", SCHEMA)
    rows = [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0)]
    lake.insert("t", lake.spark.createDataFrame(rows, "k long, v string, x double"))
    t = lake.table("t")
    _, n = t.delete("v = 'a'", mode="mor")
    assert n == 1
    assert sorted(r.k for r in t.read().collect()) == [2, 3]


def test_mor_delete_idempotent_and_no_match(lake, spark):
    t = _mk(lake, spark, n=20)
    v1, n1 = t.delete("k < 5", txn_id="del-1", mode="mor")
    v2, n2 = t.delete("k < 5", txn_id="del-1", mode="mor")
    assert n1 == 5
    assert (v2, n2) == (v1, 0)  # replay: same version, deletes nothing
    assert t.read().count() == 15
    assert t.delete("k > 1000", mode="mor") == (None, 0)


def test_cow_delete_respects_existing_dv(lake, spark):
    """A copy-on-write delete over a dv-carrying file must not resurrect
    its deleted rows — the rewrite materializes the dv of every file it
    TOUCHES (untouched files rightly keep theirs: stats-pruning scopes
    the rewrite)."""
    t = _mk(lake, spark)
    t.delete("k < 10", mode="mor")
    # Overlapping predicate: forces the rewrite onto dv-carrying files.
    t.delete("k < 20", mode="copy-on-write")
    assert t.read().count() == 80
    assert t.read().filter(F.col("k") < 20).count() == 0
    # Every file whose stats admitted k<20 was rewritten dv-free; a
    # file that still carries a dv must not contain any k<10 rows.
    for f in t.snapshot().files:
        if f.dv_path:
            assert not (
                f.min_values.get("k") is not None and f.min_values["k"] < 10
            )


def test_update_respects_and_materializes_dv(lake, spark):
    t = _mk(lake, spark)
    t.delete("k < 10", mode="mor")
    _, n = t.update("k >= 0", {"x": "x + 1000"})
    assert n == 90  # live rows only
    out = t.read()
    assert out.count() == 90
    assert out.filter(F.col("x") < 1000).count() == 0
    assert all(f.dv_path is None for f in t.snapshot().files)


def test_merge_respects_dv(lake, spark):
    t = _mk(lake, spark, n=20)
    t.delete("k < 5", mode="mor")
    src = _df(spark, 0, 10)  # keys 0..4 are dv-deleted -> inserts
    version, n_upd, n_ins = t.merge(src, key="k")
    assert (n_upd, n_ins) == (5, 5)
    assert t.read().count() == 20


def test_compact_materializes_dv(lake, spark):
    """Compaction rewrites dv-carrying files (singleton groups allowed),
    drops the deleted rows physically, clears the dv pointer — and the
    pre-compaction version still reads dv-applied (P30)."""
    t = _mk(lake, spark)
    t.delete("k % 2 = 0", mode="mor")
    v_pre = t.log.latest_version()
    assert t.read().count() == 50
    v = t.compact()
    assert v is not None
    post = t.snapshot()
    assert all(f.dv_path is None for f in post.files)
    assert t.read().count() == 50
    assert t.read(version=v_pre).count() == 50
    assert sum(f.rows for f in post.files) == 50  # physically dropped


def test_restore_undoes_mor_delete(lake, spark):
    t = _mk(lake, spark)
    v_pre = t.log.latest_version()
    t.delete("k < 50", mode="mor")
    assert t.read().count() == 50
    t.restore(v_pre)
    assert t.read().count() == 100
    assert all(f.dv_path is None for f in t.snapshot().files)


def test_diff_surfaces_dv_deleted_rows(lake, spark):
    t = _mk(lake, spark, n=30)
    v0 = t.log.latest_version()
    t.delete("k < 3", mode="mor")
    d = t.diff(v0).collect()
    assert sorted((r.k, r._change_type) for r in d) == [
        (0, "delete"),
        (1, "delete"),
        (2, "delete"),
    ]


def test_vacuum_dv_files(lake, spark):
    """Superseded dv files are reclaimed; the referenced one survives."""
    t = _mk(lake, spark)
    t.delete("k < 10", mode="mor")
    t.delete("k < 20", mode="mor")  # supersedes the first dv
    referenced = {f.dv_path for f in t.snapshot().files if f.dv_path}
    all_dv = {os.path.join("_dv", f) for f in os.listdir(t.dv_dir)}
    assert referenced < all_dv  # a superseded dv file exists
    t.vacuum(retain_versions=1, min_age_seconds=0.0)
    left = {os.path.join("_dv", f) for f in os.listdir(t.dv_dir)}
    assert left == referenced
    assert t.read().count() == 80


def test_clone_carries_dv(lake, spark):
    t = _mk(lake, spark)
    t.delete("k < 25", mode="mor")
    lake.clone_table("t", "c")
    c = lake.table("c")
    assert c.read().count() == 75
    assert c.read().filter(F.col("k") < 25).count() == 0


def test_checkpoint_roundtrips_dv(lake, spark):
    """dv metadata survives the checkpoint write/load path (a fresh
    TransactionLog cold-starts from the checkpoint)."""
    from mini_lakehouse_control_plane_executor_spark.table.log import (
        CHECKPOINT_INTERVAL,
        TransactionLog,
    )

    t = _mk(lake, spark, n=50)
    t.delete("k < 5", mode="mor")
    for i in range(CHECKPOINT_INTERVAL + 1):
        lake.insert("t", _df(spark, 1000 + i * 10, 1000 + i * 10 + 5))
    fresh = TransactionLog(t.dir)
    snap = fresh.snapshot()
    dv = [f for f in snap.files if f.dv_path]
    assert dv and sum(f.dv_rows for f in dv) == 5
    assert t.read().count() == 50 - 5 + (CHECKPOINT_INTERVAL + 1) * 5


def test_pydatasource_applies_dv(lake, spark):
    """The minilake DataSource's per-file partitions apply each file's
    deletion vector (bitmap-style, task-local) — results must match the
    snapshot read()."""
    from mini_lakehouse_control_plane_executor_spark.sources.pydatasource import register

    register(spark)
    t = _mk(lake, spark)
    t.delete("k % 3 = 0", mode="mor")
    expect = sorted(r.k for r in t.read().collect())
    got = sorted(
        r.k
        for r in spark.read.format("minilake")
        .option("root", lake.root)
        .option("table", "t")
        .load()
        .collect()
    )
    assert got == expect and len(got) == 66


def test_stream_source_rejects_dv_update(lake, spark, tmp_path):
    """A dv-update commit is NOT an append: the stream source must raise
    without ignoreChanges (re-emitting the file would replay all rows)."""
    from mini_lakehouse_control_plane_executor_spark.sources.pydatasource import register

    register(spark)
    t = _mk(lake, spark, n=10)
    t.delete("k < 3", mode="mor")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("minilake-stream")
        .option("root", lake.root)
        .option("table", "t")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination()
    assert "dv_update" in str(exc.value) or "append-only" in str(exc.value)


def test_mor_merge_upsert(lake, spark):
    """Merge-on-read MERGE: matched target rows are dv'd (no candidate
    rewrite — original paths survive with dv pointers), replacements
    and unmatched rows append as fresh files; row-level result equals
    the copy-on-write upsert."""
    t = _mk(lake, spark, n=20)
    pre_paths = {f.path for f in t.snapshot().files}
    src = spark.range(15, 25).select(
        F.col("id").alias("k"),
        F.concat(F.lit("m"), F.col("id")).alias("v"),
        F.lit(0.0).alias("x"),
    )
    version, n_upd, n_ins = t.merge(src, key="k", mode="merge-on-read")
    assert (n_upd, n_ins) == (5, 5)
    out = t.read()
    assert out.count() == 25
    assert out.filter((F.col("k") >= 15) & (F.col("v").startswith("m"))).count() == 10
    assert out.filter((F.col("k") >= 15) & (F.col("v").startswith("v"))).count() == 0
    post = t.snapshot()
    assert pre_paths < {f.path for f in post.files}  # originals survive
    assert sum(f.dv_rows for f in post.files) == 5


def test_mor_merge_when_matched(lake, spark):
    t = _mk(lake, spark, n=10)
    src = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("s").alias("v"), F.lit(100.0).alias("x")
    )
    version, n_upd, n_ins = t.merge(
        src,
        key="k",
        when_matched={"x": "target.x + source.x"},
        mode="mor",
    )
    assert (n_upd, n_ins) == (3, 0)
    rows = {r.k: (r.v, r.x) for r in t.read().collect()}
    assert len(rows) == 10
    for k in (5, 6, 7):
        assert rows[k] == (f"v{k}", k * 1.5 + 100.0)  # target v kept


@pytest.mark.parametrize(
    "when_matched, new_x",
    [({"x": "target.x + 100000"}, 0.0), (None, 1e9)],
    ids=["when_matched_output", "inserted_rows"],
)
def test_failed_mor_merge_leaves_no_files(lake, spark, when_matched, new_x):
    """A merge-on-read merge whose when_matched output or inserted rows
    fail a CHECK commits nothing and leaves no dv parquet in _dv/ and no
    stage in _tmp/: the matched rows' dv file is written before those
    rows are, and nothing references it."""
    t = _mk(lake, spark, n=10)
    t.delete("k = 0", mode="mor")  # _dv/ holds one live dv file
    t.add_constraint("xcap", "x <= 10000")
    version = t.log.latest_version()
    dv_files = sorted(os.listdir(t.dv_dir))
    data_files = sorted(os.listdir(t.data_dir))
    src = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit("s").alias("v"), F.lit(new_x).alias("x")
    )
    with pytest.raises(Exception, match="xcap"):
        t.merge(src, key="k", when_matched=when_matched, mode="mor")
    assert t.log.latest_version() == version
    assert os.listdir(t.tmp_dir) == []
    assert sorted(os.listdir(t.dv_dir)) == dv_files
    assert sorted(os.listdir(t.data_dir)) == data_files


def test_mor_merge_then_compact_materializes(lake, spark):
    t = _mk(lake, spark, n=20)
    src = _df(spark, 10, 30)
    t.merge(src, key="k", mode="mor")
    assert t.read().count() == 30
    t.compact()
    assert all(f.dv_path is None for f in t.snapshot().files)
    assert t.read().count() == 30


def test_user_columns_named_src_pos_survive(lake, spark):
    """r13 review: the scan's internal file/position columns collided
    with user columns literally named _src/_pos — merge silently
    overwrote then DROPPED them. Names are now generated around the
    schema."""
    lake.create_table(
        "t", [Field("k", "int64"), Field("_src", "string"), Field("_pos", "int64")]
    )
    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.col("id")).alias("_src"),
        (F.col("id") * 7).alias("_pos"),
    )
    lake.insert("t", df)
    t = lake.table("t")
    src = spark.range(5, 12).select(
        F.col("id").alias("k"),
        F.lit("m").alias("_src"),
        F.lit(-1).alias("_pos"),
    )
    for mode in ("copy-on-write", "merge-on-read"):
        version, n_upd, n_ins = t.merge(
            src, key="k", mode=mode, txn_id=f"m-{mode}"
        )
        rows = {r.k: (r._src, r._pos) for r in t.read().collect()}
        assert len(rows) == 12
        assert rows[3] == ("s3", 21)  # untouched row keeps its data
        assert rows[6] == ("m", -1)
    _, n = t.delete("k < 2", mode="mor")
    assert n == 2
    rows = {r.k: (r._src, r._pos) for r in t.read().collect()}
    assert rows[3] == ("s3", 21) and 0 not in rows


def test_stream_source_rejects_dv_detach_readd(lake, spark, tmp_path):
    """r13 review: RESTORE undoing a MoR delete re-adds the path with
    dv_path=None — indistinguishable from a fresh append by inspecting
    the add alone, so the reader now flags ANY re-add of a
    previously-visible path. Without the guard every row of the file
    replays as a new append."""
    from mini_lakehouse_control_plane_executor_spark.sources.pydatasource import register

    register(spark)
    t = _mk(lake, spark, n=10)
    v_pre = t.log.latest_version()
    t.delete("k < 3", mode="mor")
    t.restore(v_pre)  # detaches the dv by re-adding the path
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("minilake-stream")
        .option("root", lake.root)
        .option("table", "t")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception) as exc:
        q.awaitTermination()
    assert "append-only" in str(exc.value)
    # ignoreChanges skips BOTH the dv-update and the restore commit
    # without replaying the file.
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    q2 = (
        spark.readStream.format("minilake-stream")
        .option("root", lake.root)
        .option("table", "t")
        .option("ignoreChanges", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out2).count() == 10  # initial insert only


def test_concurrent_mor_deletes_all_land(lake, spark):
    """Threaded merge-on-read deletes on DISJOINT predicates: OCC
    retries must make every delete land (each retry recomputes matches
    on the fresh dv-applied snapshot, carrying the winners' positions),
    with no row lost, resurrected, or double-deleted. Five concurrent
    committers can exhaust the reference's <=3-retry commit contract
    under load — CommitRetriesExhausted is the TYPED signal for the
    caller to resubmit (idempotent per txn_id), so the worker does
    exactly that; the correctness claim (exact final state) is
    unchanged."""
    import threading

    from mini_lakehouse_control_plane_executor_spark.table.log import (
        CommitRetriesExhausted,
    )

    t = _mk(lake, spark, n=100)
    errs, results = [], {}

    def worker(i):
        try:
            for _outer in range(4):
                try:
                    results[i] = t.delete(
                        f"k >= {i * 10} AND k < {i * 10 + 5}",
                        txn_id=f"cdel-{i}",
                        mode="mor",
                    )
                    return
                except CommitRetriesExhausted:
                    continue
            results[i] = t.delete(
                f"k >= {i * 10} AND k < {i * 10 + 5}",
                txn_id=f"cdel-{i}",
                mode="mor",
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(5)]
    [th.start() for th in threads]
    [th.join() for th in threads]
    assert not errs, errs
    assert sorted(n for _v, n in results.values()) == [5] * 5
    assert t.read().count() == 75
    kept = sorted(r.k for r in t.read().collect())
    expect = [k for k in range(100) if not any(
        i * 10 <= k < i * 10 + 5 for i in range(5))]
    assert kept == expect
    assert sum(f.dv_rows for f in t.snapshot().files) == 25


def test_dv_fraction_trigger_self_enforcing(lake, spark, monkeypatch):
    """Flooding merge-on-read deletes WITHOUT ever calling compact must
    keep the dv side bounded on its own: a file whose deleted fraction
    crosses DV_MATERIALIZE_FRACTION is auto-rewritten right after the
    MoR commit that crossed it (best-effort post-commit pass). Here
    each 50-row file accumulates 6-row deletes; at 30/50 deleted the
    trigger fires, so by the end NO dv survives at all — deletes alone
    can only grow dv_rows, so pending == 0 proves the pass ran."""
    import mini_lakehouse_control_plane_executor_spark.table.table as tt

    monkeypatch.setattr(tt, "DV_MATERIALIZE_MIN_ROWS", 8)
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 100).coalesce(2))  # 2 files x 50 rows
    t = lake.table("t")
    v_ins = t.versions()[-1]
    for i in range(10):
        t.delete(f"k >= {i * 10} AND k < {i * 10 + 6}", mode="mor")
    kept = sorted(r.k for r in t.read().collect())
    assert kept == [k for k in range(100) if k % 10 >= 6]
    snap = t.snapshot()
    assert not t._dv_flagged(snap)
    assert sum(f.dv_rows for f in snap.files) == 0
    assert sum(f.rows for f in snap.files) == 40
    # time travel through the churn still works
    assert t.read(version=v_ins).count() == 100


def test_dv_budget_trigger_and_shuffled_read(lake, spark, monkeypatch):
    """The table-wide pending-dv budget drafts the largest dv carriers
    (fraction bar or not) until pending is back under budget; and a
    read issued while pending exceeds the broadcast bound applies the
    dv as a SHUFFLED anti-join (no broadcast build of an unbounded dv
    side through the driver)."""
    import mini_lakehouse_control_plane_executor_spark.table.table as tt

    monkeypatch.setattr(tt, "DV_MATERIALIZE_FRACTION", 10.0)  # never
    monkeypatch.setattr(tt, "DV_MATERIALIZE_MIN_ROWS", 10**9)  # never
    monkeypatch.setattr(tt, "DV_PENDING_MAX_ROWS", 10)
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 100).coalesce(4))  # 4 files x 25 rows
    t = lake.table("t")
    for i in range(4):
        t.delete(f"k >= {i * 25} AND k < {i * 25 + 3}", mode="mor")
    snap = t.snapshot()
    # 12 rows were dv'd; the budget pass materialized carrier(s) until
    # pending <= 10 (one 3-row carrier suffices: 12 - 3 = 9).
    assert sum(f.dv_rows for f in snap.files) == 9
    assert t.read().count() == 88
    # broadcast bound: with pending (9) above the bound (0), the plan
    # must not broadcast the dv side.
    monkeypatch.setattr(tt, "DV_BROADCAST_MAX_ROWS", 0)
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert t.read().count() == 88  # and it still reads correctly
    # under the bound the broadcast shape returns
    monkeypatch.setattr(tt, "DV_BROADCAST_MAX_ROWS", 4_000_000)
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_mor_update_basics(lake, spark):
    """Merge-on-read UPDATE (Delta's DV UPDATE): the old rows are dv'd
    in place — original data files stay byte-identical — and the
    rewritten rows append as fresh files in the SAME commit; row-level
    result equals the copy-on-write update, and time travel still sees
    the pre-update values."""
    t = _mk(lake, spark)
    pre = t.snapshot()
    sizes = {
        f.path: os.path.getsize(os.path.join(t.dir, f.path)) for f in pre.files
    }
    v, n = t.update("k < 10", {"x": "x + 1000"}, mode="merge-on-read")
    assert n == 10 and v == pre.version + 1
    out = t.read()
    assert out.count() == 100  # update never changes cardinality
    assert out.filter((F.col("k") < 10) & (F.col("x") < 1000)).count() == 0
    assert out.filter((F.col("k") >= 10) & (F.col("x") >= 1000)).count() == 0
    # time travel: pre-update values intact
    old = t.read(version=pre.version)
    assert old.filter(F.col("x") >= 1000).count() == 0
    post = t.snapshot()
    assert {f.path for f in pre.files} < {f.path for f in post.files}
    for f in post.files:
        if f.path in sizes:  # originals byte-identical, dv attached
            assert os.path.getsize(os.path.join(t.dir, f.path)) == sizes[f.path]
    assert sum(f.dv_rows for f in post.files) == 10


def test_mor_update_matches_cow_update(lake, spark):
    """Mode equivalence pin: the same UPDATE through both modes yields
    identical row-level state (the model test coin-flips this too; this
    is the direct two-table comparison)."""
    t1 = _mk(lake, spark, name="cowu")
    t2 = _mk(lake, spark, name="moru")
    args = ("k % 3 = 1", {"v": "concat(v, '!')", "x": "x * 2"})
    _, n1 = t1.update(*args, mode="copy-on-write")
    _, n2 = t2.update(*args, mode="merge-on-read")
    assert n1 == n2 > 0
    rows1 = sorted(tuple(r) for r in t1.read().collect())
    rows2 = sorted(tuple(r) for r in t2.read().collect())
    assert rows1 == rows2


def test_mor_update_idempotent_no_match_and_null_pred(lake, spark):
    t = _mk(lake, spark, n=20)
    v1, n1 = t.update("k < 5", {"x": "x + 1"}, txn_id="u-1", mode="mor")
    v2, n2 = t.update("k < 5", {"x": "x + 1"}, txn_id="u-1", mode="mor")
    assert n1 == 5
    assert (v2, n2) == (v1, 0)  # txn replay: same version, no-op
    assert t.update("k > 1000", {"x": "0.0"}, mode="mor") == (None, 0)
    # NULL-evaluating predicate rows are NOT updated (SQL semantics)
    lake.create_table("tn", SCHEMA)
    rows = [(1, "a", 1.0), (2, None, 2.0)]
    lake.insert("tn", spark.createDataFrame(rows, "k long, v string, x double"))
    tn = lake.table("tn")
    _, n = tn.update("v = 'a'", {"x": "99.0"}, mode="mor")
    assert n == 1
    got = {r.k: r.x for r in tn.read().collect()}
    assert got == {1: 99.0, 2: 2.0}


def test_mor_update_respects_dv_and_compact_materializes(lake, spark):
    """An MoR update after an MoR delete touches LIVE rows only (a
    deleted row must never be resurrected as an 'updated' copy);
    compaction then materializes all dvs and the state survives."""
    t = _mk(lake, spark)
    t.delete("k < 10", mode="mor")
    _, n = t.update("k < 20", {"v": "'upd'"}, mode="mor")
    assert n == 10  # k in [10, 20) only — the dv'd rows don't match
    out = t.read()
    assert out.count() == 90
    assert out.filter(F.col("v") == "upd").count() == 10
    t.compact()
    post = t.snapshot()
    assert all(f.dv_path is None for f in post.files)
    out = t.read()
    assert out.count() == 90
    assert out.filter(F.col("v") == "upd").count() == 10
    assert out.filter(F.col("k") < 10).count() == 0


def test_mor_update_constraint_gate(lake, spark):
    """Rewritten rows pass the CHECK gate: an assignment that would
    violate a constraint fails atomically — no dv commit, no appended
    file, state unchanged."""
    t = _mk(lake, spark, n=10)
    t.add_constraint("xcap", "x <= 10000")
    with pytest.raises(Exception, match="xcap"):
        t.update("k < 5", {"x": "x + 100000"}, mode="mor")
    assert t.read().filter(F.col("x") > 10000).count() == 0
    assert sum(f.dv_rows for f in t.snapshot().files) == 0


def test_concurrent_mor_updates_all_land(lake, spark):
    """Threaded merge-on-read updates on DISJOINT predicates: OCC
    retries must make every update land with no row lost, duplicated,
    or double-updated (mirrors the concurrent MoR-delete pin; same
    typed-exhaustion resubmit contract)."""
    import threading

    from mini_lakehouse_control_plane_executor_spark.table.log import (
        CommitRetriesExhausted,
    )

    t = _mk(lake, spark, n=100)
    errs, results = [], {}

    def worker(i):
        try:
            for _outer in range(4):
                try:
                    results[i] = t.update(
                        f"k >= {i * 10} AND k < {i * 10 + 5}",
                        {"v": f"'w{i}'", "x": "x + 1"},
                        txn_id=f"cupd-{i}",
                        mode="mor",
                    )
                    return
                except CommitRetriesExhausted:
                    continue
            results[i] = t.update(
                f"k >= {i * 10} AND k < {i * 10 + 5}",
                {"v": f"'w{i}'", "x": "x + 1"},
                txn_id=f"cupd-{i}",
                mode="mor",
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(5)]
    [th.start() for th in threads]
    [th.join() for th in threads]
    assert not errs, errs
    assert sorted(n for _v, n in results.values()) == [5] * 5
    rows = {r.k: (r.v, r.x) for r in t.read().collect()}
    assert len(rows) == 100  # cardinality preserved
    for i in range(5):
        for k in range(i * 10, i * 10 + 5):
            assert rows[k] == (f"w{i}", k * 1.5 + 1), k
        for k in range(i * 10 + 5, i * 10 + 10):
            assert rows[k] == (f"v{k}", k * 1.5), k
    assert sum(f.dv_rows for f in t.snapshot().files) == 25
