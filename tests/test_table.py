"""LakehouseTable integration tests: insert/read/time-travel, insert
idempotency, file pruning, compaction (P30: same-version results are
identical pre/post compaction)."""

import os

import pytest
from pyspark.sql import functions as F

import mini_lakehouse_control_plane_executor_spark.table.table as table_mod
from mini_lakehouse_control_plane_executor_spark.table.schema import Field, arrow_types

SCHEMA = [Field("k", "int64"), Field("v", "string"), Field("x", "float64")]


def _df(spark, lo, hi, partitions=None):
    return spark.range(lo, hi, numPartitions=partitions).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("x"),
    )


def test_insert_read_time_travel(lake, spark):
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 100))
    lake.insert("t", _df(spark, 100, 150))
    t = lake.table("t")
    assert t.read().count() == 150
    assert t.read(version=2).count() == 100  # v1=create, v2=first insert
    assert t.read(version=1).count() == 0
    assert [f.name for f in t.fields] == ["k", "v", "x"]


def test_insert_idempotency(lake, spark):
    lake.create_table("t", SCHEMA)
    v1 = lake.insert("t", _df(spark, 0, 10), txn_id="load-1")
    v2 = lake.insert("t", _df(spark, 0, 10), txn_id="load-1")
    assert v1 == v2
    assert lake.table("t").read().count() == 10


def test_stats_pruning(lake, spark):
    lake.create_table("t", SCHEMA)
    # Three non-overlapping key ranges → three versions, ≥3 files.
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        lake.insert("t", _df(spark, lo, hi).coalesce(1))
    t = lake.table("t")
    snap = t.snapshot()
    assert len(snap.files) == 3
    assert all(f.min_values.get("k") is not None for f in snap.files)

    from mini_lakehouse_control_plane_executor_spark.functions.filters import prune_files

    pruned = prune_files(snap.files, "k >= 250")
    assert len(pruned) == 1
    # read() pruning is file-level; the row-level filter comes from the
    # query layer on top.
    assert t.read(prune_filter="k >= 250").count() == 100
    from mini_lakehouse_control_plane_executor_spark.plans.query import SimpleQuery

    assert lake.query(SimpleQuery(table_name="t", filter="k >= 250")).count() == 50
    # Correctness unaffected when predicate matches nothing.
    assert t.read(prune_filter="k > 9999").count() == 0


def test_read_and_sql_plan_without_spark_jobs(lake, spark):
    """The log is the file index: planning a read of more files than
    Spark's parallel-listing threshold (32 paths) must not start a Spark
    job to list again the files the snapshot already names."""
    import uuid

    lake.create_table("big", SCHEMA)
    lake.insert("big", _df(spark, 0, 6400, partitions=64))
    t = lake.table("big")
    assert len(t.snapshot().files) == 64

    sc = spark.sparkContext
    group = f"plan-{uuid.uuid4()}"
    tracker = sc.statusTracker()
    sc.setJobGroup(group, "planning only")
    try:
        before = set(tracker.getJobIdsForGroup(group))
        full = t.read()
        pruned = t.read(prune_filter="k >= 1600")  # keeps 48 of 64 files
        counted = lake.sql("SELECT count(*) AS n FROM big")
        # Execute under another group, so the planning group's jobs (the
        # status tracker learns of them asynchronously) have long been
        # recorded by the time it is read again.
        sc.setJobGroup(f"run-{group}", "execution")
        assert full.count() == 6400
        assert pruned.count() == 4800
        assert counted.collect()[0].n == 6400
        assert set(tracker.getJobIdsForGroup(group)) == before
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_compaction_preserves_results(lake, spark):
    lake.create_table("t", SCHEMA)
    for lo in range(0, 50, 10):
        lake.insert("t", _df(spark, lo, lo + 10).coalesce(1))
    t = lake.table("t")
    v_before = t.log.latest_version()
    before = sorted(t.read().collect())
    n_files_before = len(t.snapshot().files)

    v_after = t.compact()
    assert v_after == v_before + 1
    assert len(t.snapshot().files) < n_files_before

    # P30: latest results identical, and the pre-compaction version is
    # still readable with identical content.
    assert sorted(t.read().collect()) == before
    assert sorted(t.read(version=v_before).collect()) == before
    # Compacting again is a no-op (files now big enough / too few).
    assert t.compact() is None


def test_compaction_thresholds(lake, spark, monkeypatch):
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 10).coalesce(1))
    lake.insert("t", _df(spark, 10, 20).coalesce(1))
    t = lake.table("t")
    # Only 2 small files < MIN_CANDIDATES=3 → no compaction.
    assert t.compaction_candidates(t.snapshot()) == []


def test_insert_path_csv(lake, spark, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("k,v,x\n1,a,1.5\n2,b,2.5\n")
    lake.create_table("t", SCHEMA)
    lake.table("t").insert_path(str(csv), fmt="csv")
    rows = lake.table("t").read().orderBy("k").collect()
    assert [(r.k, r.v, r.x) for r in rows] == [(1, "a", 1.5), (2, "b", 2.5)]


def test_compaction_trigger_and_exclusion(lake, spark):
    """ShouldCompact ratio trigger + SafeExecuteCompaction per-table
    exclusion (compaction_service.go:315-332, 659-709)."""
    import threading

    import pytest

    lake.create_table("guard", SCHEMA)
    lake.insert("guard", _df(spark, 0, 10))
    lake.insert("guard", _df(spark, 10, 20))
    lake.insert("guard", _df(spark, 20, 30))
    t = lake.table("guard")
    # All files are tiny → small-file ratio 100% > 10%, ≥3 files.
    assert t.should_compact()
    # Session-level compact honors the trigger and compacts.
    assert lake.compact("guard") is not None
    # Single remaining file → below min-candidates, trigger off.
    assert not t.should_compact()
    assert lake.compact("guard") is None          # trigger declines
    assert lake.compact("guard", force=True) is None  # no candidates either

    # Per-table mutual exclusion: a second compact while one is "running"
    # is refused rather than queued.
    with lake._compact_mu:
        lake._compacting["guard"] = {
            "txn_id": "compact-test", "started_ms": 0, "status": "RUNNING",
        }
    try:
        with pytest.raises(RuntimeError, match="in progress"):
            lake.compact("guard")
    finally:
        with lake._compact_mu:
            lake._compacting.pop("guard", None)

    # Unknown table still raises cleanly through the guard.
    with pytest.raises(KeyError):
        lake.compact("nope")


def test_delete_copy_on_write(lake, spark):
    """DELETE rewrites only stat-pruned files; old versions unchanged;
    idempotent per txn_id; no-op when nothing matches."""
    lake.create_table("del", SCHEMA)
    t = lake.table("del")
    t.insert(_df(spark, 0, 100))     # k in [0,100)
    t.insert(_df(spark, 100, 200))   # k in [100,200)
    v_before = t.versions()[-1]
    files_before = {f.path for f in t.snapshot().files}

    version, n = t.delete("k < 50", txn_id="d1")
    assert n == 50 and version == v_before + 1
    assert t.read().count() == 150
    # Time travel: the pre-delete version still has all rows.
    assert t.read(version=v_before).count() == 200
    # Stats pruning: the second insert's files (k>=100) were not rewritten.
    files_after = {f.path for f in t.snapshot().files}
    assert any(p in files_after for p in files_before), "untouched files must carry over"

    # Idempotency: same txn_id is a no-op returning the original version.
    again, n2 = t.delete("k < 50", txn_id="d1")
    assert again == version and n2 == 0
    assert t.read().count() == 150

    # No rows match → no new version.
    assert t.delete("k < 0") == (None, 0)
    assert t.versions()[-1] == version


def test_insert_overwrite(lake, spark):
    lake.create_table("ow", SCHEMA)
    t = lake.table("ow")
    t.insert(_df(spark, 0, 50))
    v_append = t.versions()[-1]
    t.insert(_df(spark, 1000, 1010), mode="overwrite")
    assert t.read().count() == 10
    assert t.read().agg(F.min("k")).collect()[0][0] == 1000
    # Pre-overwrite version still readable (P30-style).
    assert t.read(version=v_append).count() == 50


def test_drop_table(lake, spark):
    import pytest

    lake.create_table("gone", SCHEMA)
    lake.insert("gone", _df(spark, 0, 10))
    assert "gone" in lake.list_tables()
    lake.drop_table("gone")
    assert "gone" not in lake.list_tables()
    with pytest.raises(KeyError):
        lake.table("gone")


def test_missing_table_lookup_writes_nothing(lake):
    """Looking up a table that does not exist raises KeyError and leaves
    no directory behind, inside the lake root or, for a name that is not
    a table name, outside it."""
    escaped = os.path.join(lake.root, "..", "escaped")
    for name in ("typo", "../../escaped", "x" * 65):
        with pytest.raises(KeyError, match="no such table"):
            lake.table(name)
    assert os.listdir(os.path.join(lake.root, "tables")) == []
    assert not os.path.exists(escaped)
    assert lake.list_tables() == []


def test_update_copy_on_write(lake, spark):
    """UPDATE rewrites only stat-pruned files, applies SQL-expression
    assignments to matching rows, preserves old versions."""
    lake.create_table("upd", SCHEMA)
    t = lake.table("upd")
    t.insert(_df(spark, 0, 100))
    t.insert(_df(spark, 100, 200))
    v_before = t.versions()[-1]

    version, n = t.update("k < 10", {"v": "'patched'", "x": "x * 2"}, txn_id="u1")
    assert n == 10 and version == v_before + 1
    got = t.read().filter(F.col("k") < 10).orderBy("k").collect()
    assert all(r["v"] == "patched" for r in got)
    assert got[3]["x"] == 3 * 1.5 * 2  # k=3: original 4.5 doubled
    # Non-matching rows untouched; totals unchanged.
    assert t.read().count() == 200
    assert t.read().filter(F.col("v") == "patched").count() == 10
    # Old version still shows pre-update values.
    assert t.read(version=v_before).filter(F.col("v") == "patched").count() == 0
    # Idempotency.
    assert t.update("k < 10", {"v": "'patched'"}, txn_id="u1") == (version, 0)
    # Unknown column rejected.
    import pytest

    with pytest.raises(ValueError, match="unknown column"):
        t.update("k < 10", {"nope": "1"})


def test_merge_upsert(lake, spark):
    """MERGE: matched keys replaced, unseen keys appended, files outside
    the source key range untouched, old versions intact."""
    lake.create_table("mrg", SCHEMA)
    t = lake.table("mrg")
    t.insert(_df(spark, 0, 100))
    t.insert(_df(spark, 100, 200))
    v_before = t.versions()[-1]
    files_before = {f.path for f in t.snapshot().files}

    # Source: keys 95..104 (update 10 rows) + 500..504 (insert 5 rows).
    src = _df(spark, 95, 105).union(_df(spark, 500, 505)).withColumn(
        "v", F.lit("merged")
    )
    version, n_upd, n_ins = t.merge(src, "k", txn_id="m1")
    assert (n_upd, n_ins) == (10, 5)
    assert t.read().count() == 205
    assert t.read().filter(F.col("v") == "merged").count() == 15
    # Old version pre-merge unchanged.
    assert t.read(version=v_before).filter(F.col("v") == "merged").count() == 0
    assert t.read(version=v_before).count() == 200
    # Idempotent replay.
    assert t.merge(src, "k", txn_id="m1") == (version, 0, 0)


def test_add_columns_schema_evolution(lake, spark):
    import pytest

    from mini_lakehouse_control_plane_executor_spark.table.schema import SchemaError

    lake.create_table("evo", SCHEMA)
    t = lake.table("evo")
    t.insert(_df(spark, 0, 10))
    t.add_columns([Field("note", "string", True)])
    # Old files surface the new column as NULL.
    assert t.read().filter(F.col("note").isNull()).count() == 10
    # New inserts carry it.
    t.insert(
        _df(spark, 10, 15).withColumn("note", F.lit("n")), txn_id="evo2"
    )
    assert t.read().filter(F.col("note") == "n").count() == 5
    assert t.read().count() == 15
    with pytest.raises(SchemaError, match="already exists"):
        t.add_columns([Field("note", "string", True)])
    with pytest.raises(SchemaError, match="nullable"):
        t.add_columns([Field("req", "string", False)])


def test_delete_keeps_null_predicate_rows(lake, spark):
    """SQL DELETE semantics: rows where the predicate evaluates to NULL
    are NOT deleted (DuckDB/ANSI: delete only where TRUE)."""
    lake.create_table("nul", SCHEMA)
    t = lake.table("nul")
    rows = [(1, "a", 1.0), (2, "b", None), (3, "c", 9.0), (4, "d", None)]
    t.insert(spark.createDataFrame(rows, t.spark_schema))

    version, n = t.delete("x > 5")
    assert n == 1  # only k=3 matches TRUE; NULLs neither match nor die
    got = sorted((r.k, r.x) for r in t.read().collect())
    assert got == [(1, 1.0), (2, None), (4, None)]


def test_retries_exhausted_is_typed_error(lake, spark, monkeypatch):
    """After losing every OCC retry, every table write raises
    CommitRetriesExhausted (a CommitConflictError) naming its operation,
    not a TypeError, and compaction does not pass it off as "nothing to
    compact" (None)."""
    import os

    import pytest

    from mini_lakehouse_control_plane_executor_spark.table.log import (
        CommitConflictError,
        CommitRetriesExhausted,
    )

    lake.create_table("occ", SCHEMA)
    t = lake.table("occ")
    t.insert(_df(spark, 0, 20))
    t.add_constraint("k_pos", "k >= 0")
    version = t.log.latest_version()
    data_files = sorted(os.listdir(t.data_dir))

    def always_conflict(base, txn_id, schema, adds=None, removes=None, **kw):
        raise CommitConflictError(base, base + 1)

    monkeypatch.setattr(t.log, "commit", always_conflict)
    with pytest.raises(CommitRetriesExhausted, match="delete"):
        t.delete("k < 5")
    with pytest.raises(CommitRetriesExhausted, match="update"):
        t.update("k < 5", {"v": "'z'"})
    with pytest.raises(CommitRetriesExhausted, match="merge"):
        t.merge(_df(spark, 0, 5), "k")
    with pytest.raises(CommitRetriesExhausted, match="compact"):
        t.compact(cluster_by=["k"])
    with pytest.raises(CommitRetriesExhausted, match="restore"):
        t.restore(2)
    with pytest.raises(CommitRetriesExhausted, match="add_columns"):
        t.add_columns([Field("note", "string", True)])
    with pytest.raises(CommitRetriesExhausted, match="drop_column"):
        t.drop_column("x")
    with pytest.raises(CommitRetriesExhausted, match="add_constraint"):
        t.add_constraint("k_small", "k < 100")
    with pytest.raises(CommitRetriesExhausted, match="drop_constraint"):
        t.drop_constraint("k_pos")
    with pytest.raises(CommitRetriesExhausted, match="insert overwrite"):
        t.insert(_df(spark, 20, 25), mode="overwrite")
    with pytest.raises(CommitConflictError):  # subclass relationship holds
        t.insert(_df(spark, 20, 25))
    assert t.log.latest_version() == version
    assert sorted(os.listdir(t.data_dir)) == data_files
    assert os.listdir(t.tmp_dir) == []


def test_failed_compaction_leaves_data_clean(lake, spark, monkeypatch):
    """A compaction whose second group fails to rewrite raises, commits
    nothing, and leaves no promoted file of its first group in data/."""
    import os

    import pytest

    lake.create_table("cfail", SCHEMA)
    t = lake.table("cfail")
    for i in range(4):
        t.insert(_df(spark, i * 10, i * 10 + 10).coalesce(1))
    sizes = [f.size for f in t.snapshot().files]
    assert len(sizes) == 4 and 3 * min(sizes) > 2 * max(sizes)
    # Two files fit a group, three do not: two groups of two.
    monkeypatch.setattr(table_mod, "COMPACT_TARGET_FILE_SIZE", 2 * max(sizes))
    assert [len(g) for g in t.compaction_candidates(t.snapshot())] == [2, 2]
    version = t.log.latest_version()
    data_files = sorted(os.listdir(t.data_dir))
    real_scan = t._scan_files
    scans = []

    def failing_scan(files, schema, **kw):
        scans.append(files)
        if len(scans) == 2:
            raise RuntimeError("second group's scan failed")
        return real_scan(files, schema, **kw)

    monkeypatch.setattr(t, "_scan_files", failing_scan)
    with pytest.raises(RuntimeError, match="second group"):
        t.compact()
    monkeypatch.setattr(t, "_scan_files", real_scan)
    assert len(scans) == 2
    assert t.log.latest_version() == version
    assert sorted(os.listdir(t.data_dir)) == data_files
    assert os.listdir(t.tmp_dir) == []
    assert t.read().count() == 40


def test_merge_source_parallel_write(lake, spark):
    """merge writes the source at its natural parallelism — a
    multi-partition source must produce multiple part files, never
    serialize through one task."""
    lake.create_table("mrgp", SCHEMA)
    t = lake.table("mrgp")
    t.insert(_df(spark, 0, 10).coalesce(1))

    # Non-overlapping key range → pure insert; 4 source partitions.
    src = _df(spark, 1000, 1400).repartition(4)
    version, n_upd, n_ins = t.merge(src, "k")
    assert (n_upd, n_ins) == (0, 400)
    entry = t.log.read_entry(version)
    assert len(entry.adds) >= 2, "source must not be coalesced to one file"
    assert t.read().count() == 410


def test_insert_cleanup_on_terminal_commit_failure(lake, spark, monkeypatch):
    """Promoted-but-never-committed files are reclaimed from data/ when
    the commit fails terminally (no orphan leak)."""
    import os

    import pytest

    from mini_lakehouse_control_plane_executor_spark.table.log import (
        CommitConflictError,
        CommitRetriesExhausted,
    )

    lake.create_table("orph", SCHEMA)
    t = lake.table("orph")
    t.insert(_df(spark, 0, 10))
    files_before = sorted(os.listdir(t.data_dir))

    real_commit = t.log.commit

    def always_conflict(base, txn_id, schema, adds=None, removes=None):
        raise CommitConflictError(base, base + 1)

    monkeypatch.setattr(t.log, "commit", always_conflict)
    with pytest.raises(CommitConflictError):
        t.insert(_df(spark, 10, 20))
    with pytest.raises(CommitRetriesExhausted):
        t.insert(_df(spark, 10, 20), mode="overwrite")
    monkeypatch.setattr(t.log, "commit", real_commit)

    assert sorted(os.listdir(t.data_dir)) == files_before
    assert t.read().count() == 10


def test_vacuum_retention(lake, spark):
    """vacuum deletes only files unreferenced by retained versions:
    retained versions stay byte-identical (including for a reader that
    planned before the vacuum), older versions become unreadable, and
    young files are protected by the age threshold."""
    import pytest

    lake.create_table("vac", SCHEMA)
    t = lake.table("vac")
    t.insert(_df(spark, 0, 100).coalesce(1))
    t.insert(_df(spark, 100, 200).coalesce(1))
    v_predelete = t.versions()[-1]
    t.delete("k < 50")  # rewrites file 1 -> old version now needs a dead file
    v_latest = t.versions()[-1]
    retained_before = sorted(t.read().collect())
    reader_pinned = t.read(version=v_latest)  # planned pre-vacuum

    # Age guard: a fresh unreferenced file survives a 1h-threshold vacuum.
    stray = os.path.join(t.data_dir, "part-99999-stray.parquet")
    with open(stray, "wb") as fh:
        fh.write(b"x")
    stats = t.vacuum(retain_versions=1, min_age_seconds=3600)
    assert os.path.exists(stray) and stats["deleted_files"] == 0

    stats = t.vacuum(retain_versions=1, min_age_seconds=0)
    assert not os.path.exists(stray)
    assert stats["deleted_files"] >= 2  # pre-delete file + stray
    assert stats["retained_versions"] == [v_latest]

    # Retained version identical, pre-planned reader unaffected.
    assert sorted(t.read().collect()) == retained_before
    assert reader_pinned.count() == 150
    # Vacuumed version is gone.
    with pytest.raises(Exception):
        t.read(version=v_predelete).count()

    # On-disk file set == exactly the retained snapshot's references.
    on_disk = {f"data/{n}" for n in os.listdir(t.data_dir)}
    assert on_disk == set(t.snapshot().file_paths)

    with pytest.raises(ValueError):
        t.vacuum(retain_versions=0)


def test_vacuum_keeps_multiple_versions(lake, spark):
    lake.create_table("vac2", SCHEMA)
    t = lake.table("vac2")
    t.insert(_df(spark, 0, 50).coalesce(1))
    t.update("k < 10", {"v": "'a'"})
    t.update("k < 10", {"v": "'b'"})
    versions = t.versions()
    t.vacuum(retain_versions=2, min_age_seconds=0)
    # Both retained versions fully readable with correct content.
    assert t.read(version=versions[-2]).filter(F.col("v") == "a").count() == 10
    assert t.read(version=versions[-1]).filter(F.col("v") == "b").count() == 10


def test_cluster_by_enables_file_pruning(lake, spark):
    """cluster_by range-partitions rows so min/max stats prune clustered
    columns like partition pruning; single-valued files record the value
    in FileAdd.partition (reference FileInfo parity)."""
    import pytest

    from mini_lakehouse_control_plane_executor_spark.functions.filters import prune_files

    lake.create_table("clus", SCHEMA)
    t = lake.table("clus")
    # 4 distinct v-values shuffled through 8 partitions of random order.
    df = (
        spark.range(0, 4000)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 4)).alias("v"),
            (F.col("id") * 1.5).alias("x"),
        )
        .repartition(8)  # destroy natural ordering
    )
    t.insert(df, cluster_by=["v"])

    snap = t.snapshot()
    assert len(snap.files) > 1
    # Each file covers a narrow v-range; pruning on one value must drop
    # most files.
    pruned = prune_files(snap.files, "v = 'g2'")
    assert 0 < len(pruned) < len(snap.files)
    assert t.read(prune_filter="v = 'g2'").filter(F.col("v") == "g2").count() == 1000
    # Single-valued files carry the partition map.
    single = [f for f in snap.files if f.min_values.get("v") == f.max_values.get("v")]
    assert single and all(f.partition.get("v") == f.min_values["v"] for f in single)

    with pytest.raises(ValueError, match=r"unknown column\(s\)"):
        t.insert(df, cluster_by=["nope"])


def test_cluster_by_range_pruning_numeric(lake, spark):
    lake.create_table("clus2", SCHEMA)
    t = lake.table("clus2")
    t.insert(_df(spark, 0, 10000).repartition(16), cluster_by=["k"])
    snap = t.snapshot()
    from mini_lakehouse_control_plane_executor_spark.functions.filters import prune_files

    pruned = prune_files(snap.files, "k >= 9000")
    assert len(pruned) < len(snap.files) / 2
    assert t.read(prune_filter="k >= 9000").filter("k >= 9000").count() == 1000


def test_concurrent_mixed_writers_occ(lake, spark):
    """Concurrent DELETE / UPDATE / MERGE / INSERT on disjoint key ranges:
    every writer eventually lands through the OCC re-plan loop, no lost
    updates, no corrupted files, and the final state is exactly the
    serial result."""
    import threading

    from mini_lakehouse_control_plane_executor_spark.table.log import CommitRetriesExhausted

    lake.create_table("occ_mix", SCHEMA)
    t = lake.table("occ_mix")
    t.insert(_df(spark, 0, 400).coalesce(4))

    def until_landed(op):
        for _ in range(10):  # outer retry: bounded OCC retries may exhaust
            try:
                return op()
            except CommitRetriesExhausted:
                continue
        raise AssertionError("writer never landed")

    errors = []
    barrier = threading.Barrier(4)

    def run(fn):
        try:
            barrier.wait()
            until_landed(fn)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    ops = [
        lambda: t.delete("k < 50"),                                   # -50 rows
        lambda: t.update("k >= 100 AND k < 150", {"v": "'upd'"}),     # 50 rows marked
        lambda: t.merge(_df(spark, 1000, 1050), "k"),                 # +50 rows
        lambda: t.insert(_df(spark, 2000, 2050)),                     # +50 rows
    ]
    threads = [threading.Thread(target=run, args=(op,)) for op in ops]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    assert t.read().count() == 400 - 50 + 50 + 50
    assert t.read().filter(F.col("k") < 50).count() == 0
    assert t.read().filter(F.col("v") == "upd").count() == 50
    assert t.read().filter(F.col("k") >= 1000).count() == 100
    # Log replay from scratch agrees (no torn commits).
    import mini_lakehouse_control_plane_executor_spark.table.table as table_mod

    fresh = table_mod.LakehouseTable(spark, lake.root, "occ_mix")
    assert fresh.read().count() == 450


def test_merge_when_matched_partial_update(lake, spark):
    """Delta-style WHEN MATCHED clause: matched rows are rewritten
    column-by-column from target/source expressions; unlisted columns
    keep target values; unmatched source rows append (or drop)."""
    import pytest

    lake.create_table("mrgc", SCHEMA)
    t = lake.table("mrgc")
    t.insert(_df(spark, 0, 20))

    src = _df(spark, 10, 25).withColumn("x", F.lit(100.0))
    version, n_upd, n_ins = t.merge(
        src, "k", when_matched={"x": "target.x + source.x", "v": "source.v"}
    )
    assert (n_upd, n_ins) == (10, 5)
    assert t.read().count() == 25
    got = {r.k: (r.v, r.x) for r in t.read().collect()}
    assert got[15] == ("v15", 15 * 1.5 + 100.0)   # matched: x summed, v from source
    assert got[5] == ("v5", 5 * 1.5)              # untouched
    assert got[22] == ("v22", 100.0)              # inserted as-is

    # insert_unmatched=False drops WHEN NOT MATCHED rows.
    src2 = _df(spark, 20, 40).withColumn("x", F.lit(1.0))
    version, n_upd, n_ins = t.merge(
        src2, "k", when_matched={"x": "source.x"}, insert_unmatched=False
    )
    assert (n_upd, n_ins) == (5, 0)
    assert t.read().count() == 25
    assert t.read().filter(F.col("k") >= 25).count() == 0

    # Duplicate source keys rejected for clause merges.
    dup = _df(spark, 0, 2).union(_df(spark, 0, 1))
    with pytest.raises(ValueError, match="unique source keys"):
        t.merge(dup, "k", when_matched={"x": "source.x"})

    # Unknown assignment column rejected.
    with pytest.raises(ValueError, match="unknown column"):
        t.merge(_df(spark, 0, 1), "k", when_matched={"nope": "1"})


def test_merge_replace_semantics_unchanged(lake, spark):
    """Default merge still replaces matched rows wholesale."""
    lake.create_table("mrgr", SCHEMA)
    t = lake.table("mrgr")
    t.insert(_df(spark, 0, 10))
    src = _df(spark, 5, 12).withColumn("v", F.lit("new"))
    version, n_upd, n_ins = t.merge(src, "k")
    assert (n_upd, n_ins) == (5, 2)
    assert t.read().filter(F.col("v") == "new").count() == 7
    assert t.read().count() == 12


def test_create_table_as(lake, spark):
    """CTAS: query result becomes a versioned, time-travelable table."""
    import pytest

    lake.create_table("src_t", SCHEMA)
    lake.insert("src_t", _df(spark, 0, 100))
    result = lake.table("src_t").read().filter(F.col("k") >= 50)
    t = lake.create_table_as("derived", result)
    assert t.read().count() == 50
    assert [f.name for f in t.fields] == ["k", "v", "x"]
    assert "derived" in lake.list_tables()
    # It is a real table: insert more, time travel works.
    lake.insert("derived", _df(spark, 1000, 1010))
    assert t.read().count() == 60
    assert t.read(version=2).count() == 50
    with pytest.raises(ValueError, match="already exists"):
        lake.create_table_as("derived", result)


def test_merge_counts_with_duplicate_target_keys(lake, spark):
    """VERDICT r02 item 5 / ADVICE: rows_inserted must count unmatched
    SOURCE rows — matched-target-row subtraction undercounts when one
    source key matches several target rows."""
    lake.create_table("mdup", SCHEMA)
    # Target holds key 1 TWICE (duplicate keys) plus key 2.
    dup = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, "c", 3.0)], "k long, v string, x double"
    )
    lake.insert("mdup", dup)
    t = lake.table("mdup")
    # Source: key 1 (matches TWO target rows) + key 9 (new).
    src = spark.createDataFrame(
        [(1, "new", 10.0), (9, "ins", 90.0)], "k long, v string, x double"
    )
    version, n_upd, n_ins = t.merge(src, "k")
    # Replace semantics: both target rows for key 1 are replaced by the
    # single source row; key 9 is a true insert.
    assert n_upd == 2  # matched target rows
    assert n_ins == 1  # unmatched SOURCE rows (old code computed 2-2=0... or -1)
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "new"), (2, "c"), (9, "ins")}
    assert version == t.log.latest_version()


def test_not_null_enforced_on_insert(lake, spark):
    import pytest

    lake.create_table(
        "nn", [Field("k", "int64", nullable=False), Field("v", "string")]
    )
    ok = spark.createDataFrame([(1, "a"), (2, None)], "k long, v string")
    v = lake.insert("nn", ok)  # null in a NULLABLE column is fine
    assert lake.table("nn").read().count() == 2

    t = lake.table("nn")
    files_before = sorted(os.listdir(t.data_dir))
    bad = spark.createDataFrame([(None, "x")], "k long, v string")
    with pytest.raises(Exception, match="NOT NULL constraint violated"):
        lake.insert("nn", bad)
    # The failed insert must not have committed anything, nor left its
    # stage or a data file behind.
    assert t.log.latest_version() == v
    assert t.read().count() == 2
    assert os.listdir(t.tmp_dir) == []
    assert sorted(os.listdir(t.data_dir)) == files_before


def test_insert_skips_empty_part_files(lake, spark):
    """Spark writes an empty part file when a write's first partition
    holds no rows; it is not committed. An insert of no rows at all
    still commits its version (so its txn id stays idempotent)."""
    lake.create_table("e0", SCHEMA)
    lake.insert("e0", _df(spark, 0, 10, partitions=4).filter("k >= 8"))
    t = lake.table("e0")
    files = t.snapshot().files
    assert files and all(f.rows > 0 for f in files)
    assert t.read().count() == 2
    assert sorted(os.listdir(t.data_dir)) == sorted(
        os.path.basename(f.path) for f in files
    )
    v = lake.insert("e0", _df(spark, 0, 10).filter("k < 0"), txn_id="empty")
    assert t.log.latest_version() == v
    assert t.snapshot().files == files
    assert lake.insert("e0", _df(spark, 0, 10).filter("k < 0"), txn_id="empty") == v


def test_version_diff_cdc(lake, spark):
    lake.create_table("d", SCHEMA)
    v1 = lake.insert("d", _df(spark, 0, 100))
    v2 = lake.insert("d", _df(spark, 100, 120))
    t = lake.table("d")

    # Pure append: diff is exactly the appended rows, all inserts.
    d = t.diff(v1, v2)
    assert d.filter(F.col("_change_type") == "insert").count() == 20
    assert d.filter(F.col("_change_type") == "delete").count() == 0
    assert set(r.k for r in d.collect()) == set(range(100, 120))

    # Overwrite: old rows deleted, new rows inserted.
    v3 = lake.insert("d", _df(spark, 500, 510), mode="overwrite")
    d2 = t.diff(v2, v3)
    assert d2.filter(F.col("_change_type") == "delete").count() == 120
    assert d2.filter(F.col("_change_type") == "insert").count() == 10

    # diff(v, v) is empty; diff to latest defaults v_to=None.
    assert t.diff(v3, v3).count() == 0
    assert t.diff(v2).count() == 130

    # v_from=0 is the empty pre-creation snapshot (Delta CDF's
    # startingVersion=0): every row at v_to is an insert. It must NOT
    # inherit log.snapshot's 0-means-latest convention, which would
    # silently return diff(latest -> v_to).
    d0 = t.diff(0, v2)
    assert d0.filter(F.col("_change_type") == "insert").count() == 120
    assert d0.filter(F.col("_change_type") == "delete").count() == 0
    with pytest.raises(ValueError, match="v_from"):
        t.diff(-1, v2)


def test_concurrent_sql_version_pinning(lake, spark):
    """Two sql() calls pinning DIFFERENT versions of the same table must
    each see their own snapshot even when racing: each call binds its
    views in its own session clone. Also proves eager binding: a
    DataFrame returned by sql() is immune to a later registration of a
    view of the same name."""
    import threading

    lake.create_table("sqlpin", SCHEMA)
    lake.insert("sqlpin", _df(spark, 0, 10))   # v2: 10 rows
    lake.insert("sqlpin", _df(spark, 10, 30))  # v3: 30 rows

    # Eager binding: resolve at v2, re-register at latest, then collect.
    df_v2 = lake.sql("SELECT count(*) AS n FROM sqlpin", versions={"sqlpin": 2})
    lake.attach_sql_views()  # registers sqlpin at latest
    assert df_v2.collect()[0].n == 10

    errors = []

    def run(version, expect):
        try:
            for _ in range(5):
                n = lake.sql(
                    "SELECT count(*) AS n FROM sqlpin", versions={"sqlpin": version}
                ).collect()[0].n
                assert n == expect, f"v{version} saw {n}"
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=(2, 10)),
        threading.Thread(target=run, args=(3, 30)),
    ]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert not errors, errors


def test_sql_matrix(lake, spark, monkeypatch):
    """sql() binds exactly the lake tables its statement names, each at
    its pinned version, in a clone of the caller's session: joins,
    IN/EXISTS/scalar subqueries, a CTE shadowing a table, EXPLAIN and a
    missing table behave as plain Spark SQL; the caller's temp views,
    UDFs and runtime conf are visible inside; the caller's session is
    left as it was; and a statement over one table reads only it."""
    from pyspark.errors import AnalysisException

    from mini_lakehouse_control_plane_executor_spark.table.log import TransactionLog

    lake.create_table("fact", SCHEMA)
    lake.create_table("dim", SCHEMA)
    lake.insert("fact", _df(spark, 0, 10))   # v2: k 0..9
    lake.insert("fact", _df(spark, 10, 30))  # v3: k 0..29
    lake.insert("dim", _df(spark, 0, 5))     # v2: k 0..4
    lake.insert("dim", _df(spark, 5, 8))     # v3: k 0..7

    def one(stmt, **versions):
        return lake.sql(stmt, versions=versions).collect()[0]

    join = "SELECT count(*) AS n FROM fact JOIN dim ON fact.k = dim.k"
    assert one(join).n == 8
    assert one(join, fact=2, dim=3).n == 8
    assert one(join, fact=3, dim=2).n == 5
    assert one("SELECT count(*) AS n FROM fact WHERE k IN (SELECT k FROM dim)", dim=2).n == 5
    assert one(
        "SELECT count(*) AS n FROM fact f"
        " WHERE EXISTS (SELECT 1 FROM dim d WHERE d.k = f.k + 1)",
        dim=2,
    ).n == 4
    scalar = one("SELECT (SELECT max(k) FROM dim) AS m, count(*) AS n FROM fact", fact=2, dim=2)
    assert (scalar.m, scalar.n) == (4, 10)
    cte = one("WITH dim AS (SELECT 100 AS k) SELECT count(*) AS n, max(k) AS m FROM dim")
    assert (cte.n, cte.m) == (1, 100)
    assert one("SELECT count(*) AS n FROM `DIM`").n == 8  # names match case-insensitively
    plan = "\n".join(r[0] for r in lake.sql("EXPLAIN SELECT * FROM fact WHERE k > 3").collect())
    assert "== Physical Plan ==" in plan and "parquet" in plan.lower(), plan
    with pytest.raises(AnalysisException) as missing:
        lake.sql("SELECT * FROM no_such_table")
    assert missing.value.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"

    # The caller's session: its own view (one named like a lake table
    # too), a UDF and a runtime conf are seen inside; nothing changes.
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.range(3).createOrReplaceTempView("mx_mine")
    spark.range(42).createOrReplaceTempView("dim")
    spark.udf.register("mx_plus1", lambda x: x + 1, "long")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
    try:
        views = sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)
        got = one(
            "SELECT mx_plus1(count(*)) AS n, current_timezone() AS tz"
            " FROM mx_mine JOIN dim ON mx_mine.id = dim.k",
            dim=2,
        )
        assert (got.n, got.tz) == (4, "Asia/Kathmandu")
        out = lake.sql("SELECT k FROM fact")
        assert out.sparkSession is not spark
        out.createOrReplaceTempView("mx_out")  # stays in the clone
        assert sorted(t.name for t in spark.catalog.listTables() if t.isTemporary) == views
        assert spark.table("dim").count() == 42
        assert spark.sparkContext.parallelize([(1,)]).toDF(["a"]).sparkSession is spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
        for view in ("mx_mine", "dim"):
            spark.catalog.dropTempView(view)

    # One read, one snapshot resolve, of the named table only.
    reads, snapshots = [], []
    read, snapshot = table_mod.LakehouseTable.read, TransactionLog.snapshot

    def counting_read(self, *args, **kwargs):
        reads.append(self.name)
        return read(self, *args, **kwargs)

    def counting_snapshot(self, *args, **kwargs):
        snapshots.append(os.path.basename(self.table_dir))
        return snapshot(self, *args, **kwargs)

    monkeypatch.setattr(table_mod.LakehouseTable, "read", counting_read)
    monkeypatch.setattr(TransactionLog, "snapshot", counting_snapshot)
    assert one("SELECT count(*) AS n FROM dim", dim=2).n == 5
    assert (reads, snapshots) == (["dim"], ["dim"])
    snapshots.clear()
    assert lake.attach_sql_views("mx_", {"dim": 2}) == {"mx_dim": 2, "mx_fact": 3}
    assert sorted(snapshots) == ["dim", "fact"]
    monkeypatch.undo()
    assert spark.table("mx_dim").count() == 5
    for view in ("mx_dim", "mx_fact"):
        spark.catalog.dropTempView(view)

    listeners = spark.sparkContext._jsc.sc().listenerBus().listeners()
    before = listeners.size()
    for _ in range(30):
        assert one("SELECT count(*) AS n FROM dim").n == 8
    assert listeners.size() == before


def test_version_diff_empty_across_compaction(lake, spark):
    lake.create_table("dc", SCHEMA)
    for lo in range(0, 50, 10):
        lake.insert("dc", _df(spark, lo, lo + 10).coalesce(1))
    t = lake.table("dc")
    before = t.log.latest_version()
    assert t.compact() is not None
    after = t.log.latest_version()
    # Compaction rewrites files but not rows: CDC diff must be empty
    # even though the file sets are disjoint.
    assert t.diff(before, after).count() == 0


def test_not_null_enforced_on_merge(lake, spark):
    import pytest

    lake.create_table(
        "nnm", [Field("k", "int64", nullable=False), Field("v", "string", nullable=False)]
    )
    lake.insert(
        "nnm", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    t = lake.table("nnm")

    bad_src = spark.createDataFrame([(3, None)], "k long, v string")
    with pytest.raises(Exception, match="NOT NULL constraint violated"):
        t.merge(bad_src, "k")
    assert t.read().count() == 2

    # when_matched expression producing NULL into a non-nullable column
    # must also fail.
    src = spark.createDataFrame([(1, "z")], "k long, v string")
    with pytest.raises(Exception, match="NOT NULL constraint violated"):
        t.merge(src, "k", when_matched={"v": "CAST(NULL AS STRING)"})
    assert {r.v for r in t.read().collect()} == {"a", "b"}


def test_not_null_enforced_on_update(lake, spark):
    """An UPDATE assignment that yields NULL into a NOT NULL column fails
    in both modes and over REST (a 400), commits no version and leaves
    no stage, data file or deletion-vector file behind."""
    import json
    import urllib.error
    import urllib.request

    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    lake.create_table(
        "nnu", [Field("k", "int64", nullable=False), Field("v", "string", nullable=False)]
    )
    lake.insert(
        "nnu", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    )
    t = lake.table("nnu")
    version = t.log.latest_version()
    files_before = sorted(os.listdir(t.data_dir))
    to_null = {"v": "CAST(NULL AS STRING)"}
    for mode in ("copy-on-write", "merge-on-read"):
        with pytest.raises(Exception, match="NOT NULL constraint violated: column 'v'"):
            t.update("k = 1", to_null, mode=mode)
    srv = LakehouseRestServer(lake).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/tables/nnu/update",
            method="POST",
            data=json.dumps({"filter": "k = 1", "set": to_null}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(req)
        assert err.value.code == 400
        assert "NOT NULL constraint violated" in json.loads(err.value.read())["error"]
    finally:
        srv.stop()
    assert t.log.latest_version() == version
    assert sorted(os.listdir(t.data_dir)) == files_before
    assert os.listdir(t.tmp_dir) == []
    assert not os.path.exists(t.dv_dir) or os.listdir(t.dv_dir) == []
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_read_timestamp_as_of(lake, spark):
    """Delta timestampAsOf through read(timestamp_ms=...): resolves the
    last version committed at or before the instant; exclusive with
    version=."""
    import json

    lake.create_table("tts", SCHEMA)
    lake.insert("tts", _df(spark, 0, 5))  # v2
    lake.insert("tts", _df(spark, 5, 9))  # v3
    t = lake.table("tts")
    for v, ts in [(1, 1000), (2, 2000), (3, 3000)]:
        pth = t.log._entry_path(v)
        e = json.load(open(pth))
        e["timestamp_ms"] = ts
        json.dump(e, open(pth, "w"))
    t2 = lake.table("tts")  # same cached handle; timestamps read per call
    assert t2.read(timestamp_ms=2500).count() == 5
    assert t2.read(timestamp_ms=3000).count() == 9
    import pytest as _pt
    with _pt.raises(ValueError, match="predates"):
        t2.read(timestamp_ms=10)
    with _pt.raises(ValueError, match="not both"):
        t2.read(version=2, timestamp_ms=2500)


def test_attach_sql_views_pinned_and_refreshable(lake, spark):
    """attach_sql_views registers every table as a snapshot-pinned temp
    view: plain spark.sql works with no package import at the call site,
    a commit AFTER the attach doesn't change what the view reads, and
    re-attaching refreshes to latest. versions= pins a specific version;
    prefix= namespaces the views."""
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table("va", [Field("id", "int64", False)])
    lake.create_table("vb", [Field("id", "int64", False)])
    lake.insert("va", spark.createDataFrame([(1,), (2,)], "id long"))
    lake.insert("vb", spark.createDataFrame([(10,)], "id long"))

    pinned = lake.attach_sql_views()
    assert pinned["va"] == 2 and pinned["vb"] == 2
    assert spark.sql("SELECT count(*) c FROM va").collect()[0].c == 2

    # Concurrent-commit isolation: the view reads the PINNED snapshot.
    lake.insert("va", spark.createDataFrame([(3,)], "id long"))
    assert spark.sql("SELECT count(*) c FROM va").collect()[0].c == 2
    # Joins across pinned views work like any SQL.
    n = spark.sql(
        "SELECT count(*) c FROM va CROSS JOIN vb"
    ).collect()[0].c
    assert n == 2

    # Refresh picks up the new commit; explicit versions pin time travel.
    assert lake.attach_sql_views()["va"] == 3
    assert spark.sql("SELECT count(*) c FROM va").collect()[0].c == 3
    lake.attach_sql_views(versions={"va": 2})
    assert spark.sql("SELECT count(*) c FROM va").collect()[0].c == 2

    # prefix= namespaces without clobbering the unprefixed views.
    pinned = lake.attach_sql_views(prefix="lk_")
    assert set(pinned) == {"lk_va", "lk_vb"}
    assert spark.sql("SELECT count(*) c FROM lk_va").collect()[0].c == 3


def test_describe_history(lake, spark):
    """history(): newest-first per-version records with inferred
    operation, file/row deltas, and schema/constraint-change flags —
    the Delta DESCRIBE HISTORY analogue, from log entries only."""
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table("hist", [Field("id", "int64", False)])
    lake.insert("hist", spark.createDataFrame([(1,), (2,)], "id long"))
    t = lake.table("hist")
    t.add_constraint("small", "id < 100")
    t.delete("id = 1")
    t.add_column(Field("tag", "string", True))
    t.restore(2)

    h = t.history()
    assert [e["version"] for e in h] == [6, 5, 4, 3, 2, 1]
    ops = {e["version"]: e["operation"] for e in h}
    assert ops[1] == "CREATE TABLE" and ops[2] == "WRITE"
    assert ops[3] == "ADD CONSTRAINT" and ops[4] == "DELETE"
    assert ops[5] == "ADD COLUMN" and ops[6] == "RESTORE"
    by_v = {e["version"]: e for e in h}
    assert by_v[2]["rows_added"] == 2 and by_v[2]["n_added_files"] >= 1
    assert by_v[3]["constraints_changed"] and by_v[3]["n_added_files"] == 0
    assert by_v[5]["schema_changed"] and not by_v[4]["schema_changed"]
    # Timestamps are monotone newest-first.
    ts = [e["timestamp_ms"] for e in h]
    assert ts == sorted(ts, reverse=True)
    assert len(t.history(limit=2)) == 2

    # REST surface.
    import json
    import urllib.request
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    srv = LakehouseRestServer(lake).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/tables/hist/history"
        ) as resp:
            body = json.load(resp)
        assert [e["version"] for e in body["history"]] == [6, 5, 4, 3, 2, 1]
    finally:
        srv.stop()


def test_shallow_clone_zero_copy_and_independent(lake, spark):
    """clone_table references the source files by absolute path (zero
    data copy: clone's data/ starts empty), reads the pinned snapshot
    even as the source advances, carries CHECK constraints, and evolves
    independently — inserts land in the clone's OWN data dir and never
    appear in the source."""
    lake.create_table("src", SCHEMA, constraints={"k_pos": "k >= 0"})
    s = lake.table("src")
    s.insert(_df(spark, 0, 100).coalesce(1))
    c = lake.clone_table("src", "dup")
    assert os.listdir(c.data_dir) == []  # zero copy
    assert c.read().count() == 100
    assert c.constraints == {"k_pos": "k >= 0"}
    # source advances -> clone pinned at clone-time snapshot
    s.insert(_df(spark, 100, 150).coalesce(1))
    assert c.read().count() == 100 and s.read().count() == 150
    # clone evolves independently, enforcing the cloned constraint
    c.insert(_df(spark, 200, 210).coalesce(1))
    assert c.read().count() == 110 and s.read().count() == 150
    assert len(os.listdir(c.data_dir)) == 1  # the clone's own insert
    import pytest as _pytest

    with _pytest.raises(Exception, match="k_pos"):
        c.insert(
            spark.createDataFrame([(-1, "bad", 0.0)], "k long, v string, x double")
        )


def test_shallow_clone_version_pin_and_vacuum_isolation(lake, spark):
    """VERSION AS OF cloning picks the requested source version; the
    clone's vacuum (after the clone rewrites data with delete) only
    reclaims clone-owned files — the absolute source references are
    outside its data/ listing, so the source stays intact (the Delta
    caveat runs the OTHER way: vacuuming the SOURCE breaks the clone,
    documented in clone_table)."""
    lake.create_table("src2", SCHEMA)
    s = lake.table("src2")
    s.insert(_df(spark, 0, 50).coalesce(1))
    v_after_first = s.versions()[-1]
    s.insert(_df(spark, 50, 80).coalesce(1))
    c = lake.clone_table("src2", "dup2", version=v_after_first)
    assert c.read().count() == 50
    # Rewrite inside the clone: delete() copies surviving rows into
    # clone-owned files, dropping the absolute source refs from HEAD.
    c.delete("k >= 25")
    assert c.read().count() == 25
    stats = c.vacuum(retain_versions=1, min_age_seconds=0.0)
    # Only clone-owned files were candidates; source files all survive.
    assert s.read().count() == 80
    assert s.read(version=v_after_first).count() == 50
    assert c.read().count() == 25
    assert stats["deleted_files"] == 0  # nothing clone-owned was dead yet


def test_compact_where_scopes_files(lake, spark):
    """OPTIMIZE ... WHERE at file granularity: only files whose min/max
    stats possibly match the predicate are rewritten; out-of-scope
    files stay byte-identical in place (same path, same FileAdd), rows
    are never filtered, and the pre-compaction version still reads the
    original layout (property 30)."""
    lake.create_table("cw", SCHEMA)
    t = lake.table("cw")
    for lo in range(0, 9000, 1500):  # six small files, disjoint k ranges
        t.insert(_df(spark, lo, lo + 1500).coalesce(1))
    before = t.snapshot()
    assert len(before.files) == 6
    out_of_scope = {f.path for f in before.files if int(f.max_values["k"]) < 4500}
    assert len(out_of_scope) == 3

    v = t.compact(where="k >= 4500")
    assert v is not None
    after = t.snapshot()
    paths = {f.path for f in after.files}
    # the three low-range files are untouched, the three scoped ones merged
    assert out_of_scope <= paths
    assert len(after.files) == 4
    assert t.read().count() == 9000
    assert t.read().filter(F.col("k") < 4500).count() == 4500
    # pre-compaction version still reads the original 6-file layout
    assert len(t.snapshot(before.version).files) == 6
    assert t.read(version=before.version).count() == 9000

    # a predicate no file can match compacts nothing
    assert t.compact(where="k >= 999999") is None

    # where composes with the clustered rewrite: scoped files come back
    # range-partitioned on k while out-of-scope paths persist
    v2 = t.compact(where="k >= 4500", cluster_by=["k"])
    assert v2 is not None
    assert out_of_scope <= {f.path for f in t.snapshot().files}
    assert t.read().count() == 9000


def test_insert_path_orc(lake, spark, tmp_path):
    orc = str(tmp_path / "in_orc")
    _df(spark, 0, 3).coalesce(1).write.orc(orc)
    lake.create_table("t_orc", SCHEMA)
    lake.table("t_orc").insert_path(orc, fmt="orc")
    assert lake.table("t_orc").read().count() == 3


def _race_one_schema_commit(t, col_name):
    """Monkeypatch t.log.commit so the FIRST write-path commit loses an
    OCC race to a concurrent add_columns(col_name) — the injected commit
    lands after the caller captured its base version (argument
    evaluation order), so the caller's own commit raises
    CommitConflictError and must retry against the evolved schema."""
    orig_commit = t.log.commit
    state = {"raced": False}

    def racing_commit(base, txn_id, schema, *args, **kwargs):
        if not state["raced"]:
            state["raced"] = True
            orig_commit(
                t.log.latest_version(),
                f"race-{col_name}",
                list(t.fields) + [Field(col_name, "int64", True)],
            )
        return orig_commit(base, txn_id, schema, *args, **kwargs)

    t.log.commit = racing_commit
    return state


def test_add_columns_retry_preserves_concurrent_column(lake, spark):
    """r12 review: add_columns computed its merged schema BEFORE the OCC
    retry loop, so losing a race to another schema commit silently
    dropped the winner's column on retry. Both columns must survive."""
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 10))
    t = lake.table("t")
    state = _race_one_schema_commit(t, "col_a")
    t.add_columns([Field("col_b", "int64", True)])
    assert state["raced"]
    names = {f.name for f in t.fields}
    assert {"col_a", "col_b"} <= names


def test_add_columns_snapshot_commit_atomicity(lake, spark):
    """r13 review: add_columns read the schema via self.fields (one log
    snapshot) but took the commit base from a SEPARATE latest_version()
    call. A concurrent schema commit landing between the two made
    base == latest, so the commit succeeded with a merge computed from
    the stale snapshot — silently reverting the winner's column with NO
    conflict raised (the retry-loop test never covers this). Inject the
    race right after the first snapshot read; the fixed code commits
    with base = that snapshot's version, hits the conflict, and retries
    against the evolved schema."""
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 10))
    t = lake.table("t")
    orig_snapshot = t.log.snapshot
    orig_commit = t.log.commit
    state = {"raced": False}

    def racing_snapshot(*args, **kwargs):
        snap = orig_snapshot(*args, **kwargs)
        if not state["raced"]:
            state["raced"] = True
            orig_commit(
                snap.version,
                "race-col_a",
                list(snap.schema) + [Field("col_a", "int64", True)],
            )
        return snap

    t.log.snapshot = racing_snapshot
    try:
        t.add_columns([Field("col_b", "int64", True)])
    finally:
        t.log.snapshot = orig_snapshot
    assert state["raced"]
    assert {"col_a", "col_b"} <= {f.name for f in t.fields}


def test_insert_overwrite_retry_preserves_concurrent_column(lake, spark):
    """r12 review: insert(mode='overwrite') committed the entry-time
    field list; a retry after a concurrent add_column reverted the new
    column. It must commit the snapshot schema instead."""
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 10))
    t = lake.table("t")
    state = _race_one_schema_commit(t, "col_a")
    t.insert(_df(spark, 100, 110), mode="overwrite")
    assert state["raced"]
    assert "col_a" in {f.name for f in t.fields}
    out = t.read()
    assert out.count() == 10 and "col_a" in out.columns
    assert out.filter(F.col("col_a").isNotNull()).count() == 0  # null-filled


def test_merge_retry_preserves_concurrent_column(lake, spark):
    """r12 review: merge rewrote candidate files through the entry-time
    schema and committed it; a retry after a concurrent add_column both
    reverted the schema and physically dropped the column from
    rewritten files. The snapshot schema must win per attempt."""
    lake.create_table("t", SCHEMA)
    lake.insert("t", _df(spark, 0, 10))
    t = lake.table("t")
    state = _race_one_schema_commit(t, "col_a")
    src = _df(spark, 5, 15)
    t.merge(src, key="k")
    assert state["raced"]
    assert "col_a" in {f.name for f in t.fields}
    out = t.read()
    assert out.count() == 15 and "col_a" in out.columns


def test_history_limit_reads_tail_only(lake, spark):
    """history(limit) must return the same newest rows as the unbounded
    walk (the bounded form now reads only limit+1 log entries), with
    schema_changed diffs intact across the truncation boundary."""
    lake.create_table("t", SCHEMA)
    for i in range(4):
        lake.insert("t", _df(spark, i * 10, i * 10 + 5))
    t = lake.table("t")
    t.add_columns([Field("extra", "int64", True)])
    lake.insert(
        "t", _df(spark, 100, 105).withColumn("extra", F.lit(None).cast("long"))
    )
    full = t.history()
    for lim in (1, 2, 3, len(full), len(full) + 5):
        assert t.history(limit=lim) == full[:lim]
    assert [h["schema_changed"] for h in full[:2]] == [False, True]


def _parquet_writes(monkeypatch):
    """Record the path of every ``DataFrameWriter.parquet`` call."""
    from pyspark.sql.readwriter import DataFrameWriter

    paths = []
    orig = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        paths.append(path)
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return paths


def _pandas_df(spark, n):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {"k": range(n), "v": [f"v{i}" for i in range(n)], "x": [i * 1.5 for i in range(n)]}
        )
    )


def _tasks_per_job(spark, group, call):
    """Run ``call()`` under Spark job group ``group``; return its result
    and the task count of every Spark job it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = []
    for jid in tracker.getJobIdsForGroup(group):
        stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds]
        tasks.append(sum(s.numTasks for s in stages if s))
    return out, tasks


def test_rest_insert_writes_one_local_file(lake, spark, monkeypatch):
    """A small REST insert is driver-local (an Arrow LocalTableScan): it
    starts no Spark write, fetches its guarded rows with at most one
    single-task job and lands as exactly one file, not one per core."""
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    lake.create_table("r1", SCHEMA)
    writes = _parquet_writes(monkeypatch)
    rows = [{"k": i, "v": f"v{i}", "x": i * 0.5} for i in range(5)]
    srv = LakehouseRestServer(lake)
    try:
        (status, out), tasks = _tasks_per_job(
            spark, "rest-insert-r1", lambda: srv.insert_rows("r1", {"rows": rows})
        )
    finally:
        srv.httpd.server_close()
    assert status == 200 and out["new_version"] == 2
    assert writes == []
    assert tasks in ([], [1]), tasks
    t = lake.table("r1")
    assert len(t.snapshot().files) == 1
    assert sorted(r.k for r in t.read().collect()) == list(range(5))


def test_local_pandas_insert_writes_one_file(lake, spark):
    lake.create_table("p1", SCHEMA)
    df = _pandas_df(spark, 1000)
    assert df.isLocal() and df.rdd.getNumPartitions() > 1
    lake.insert("p1", df)
    t = lake.table("p1")
    assert len(t.snapshot().files) == 1
    assert t.read().count() == 1000


def test_empty_local_insert_commits_no_file(lake, spark):
    import pyarrow as pa

    lake.create_table("p0", SCHEMA)
    types = arrow_types()
    df = spark.createDataFrame(
        pa.schema([(f.name, types[f.type]) for f in SCHEMA]).empty_table()
    )
    assert df.isLocal()
    assert lake.insert("p0", df) == 2
    t = lake.table("p0")
    assert t.snapshot().files == [] and os.listdir(t.data_dir) == []
    assert not os.path.exists(t.tmp_dir) or os.listdir(t.tmp_dir) == []


def test_local_insert_splits_at_target_file_size(lake, spark, monkeypatch):
    """A local frame larger than the compaction target still writes more
    than one file: ceil(size / target) files, capped at its partition
    count."""
    df = _pandas_df(spark, 1000)
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_part = df.rdd.getNumPartitions()
    assert n_part > 3
    lake.create_table("p3", SCHEMA)
    t = lake.table("p3")
    monkeypatch.setattr(table_mod, "COMPACT_TARGET_FILE_SIZE", -(-size // 3))
    t.insert(df)
    assert len(t.snapshot().files) == 3
    monkeypatch.setattr(table_mod, "COMPACT_TARGET_FILE_SIZE", 1)
    t.insert(df)
    assert len(t.snapshot().files) == 3 + n_part
    assert t.read().count() == 2000


def test_distributed_insert_keeps_its_partitioning(lake, spark):
    lake.create_table("d8", SCHEMA)
    lake.insert("d8", _df(spark, 0, 800, partitions=8))
    assert len(lake.table("d8").snapshot().files) == 8


def test_local_insert_with_cluster_by_keeps_range_layout(lake, spark):
    lake.create_table("lc", SCHEMA)
    t = lake.table("lc")
    t.insert(_pandas_df(spark, 1000), cluster_by=["k"])
    files = sorted(t.snapshot().files, key=lambda f: f.min_values["k"])
    assert len(files) > 1
    for a, b in zip(files, files[1:]):
        assert a.max_values["k"] < b.min_values["k"]
    assert t.read().count() == 1000


def test_local_insert_runs_one_single_task_job(lake, spark, monkeypatch):
    """A 1k-row local insert whose NOT NULL and CHECK guards fold into
    its LocalRelation makes no DataFrameWriter.parquet call and runs at
    most one Spark job, of one task."""
    lake.create_table(
        "g1", [Field("k", "int64", False), Field("v", "string"), Field("x", "float64")]
    )
    t = lake.table("g1")
    t.add_constraint("k_pos", "k >= 0")
    df = _pandas_df(spark, 1000)
    writes = _parquet_writes(monkeypatch)
    _, tasks = _tasks_per_job(spark, "local-insert-g1", lambda: t.insert(df))
    assert writes == []
    assert tasks in ([], [1]), tasks
    assert len(t.snapshot().files) == 1
    assert t.read().count() == 1000


def test_local_insert_enforces_a_check_that_does_not_fold(lake, spark, monkeypatch):
    """A nondeterministic CHECK keeps the guard projection out of the
    LocalRelation; the rows' single toArrow job still evaluates it:
    good rows commit, a bad row raises and leaves no stage and no data
    file behind."""
    import pandas as pd
    from pyspark.errors import PySparkException

    lake.create_table("c1", SCHEMA)
    t = lake.table("c1")
    t.add_constraint("x_pos", "x >= 0 OR rand() > 2")
    frame_cls = type(spark.range(1))
    fetches = []
    to_arrow = frame_cls.toArrow
    monkeypatch.setattr(
        frame_cls, "toArrow", lambda self: fetches.append(1) or to_arrow(self)
    )
    writes = _parquet_writes(monkeypatch)
    t.insert(_pandas_df(spark, 10))
    bad = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["v", "w"], "x": [-1.0, 2.0]}))
    assert bad.isLocal()
    with pytest.raises(PySparkException, match="x_pos"):
        t.insert(bad, txn_id="bad-row")
    assert len(fetches) == 2 and writes == []
    assert not os.path.exists(os.path.join(t.tmp_dir, "bad-row"))
    assert len(os.listdir(t.data_dir)) == 1
    assert t.read().count() == 10 and t.log.latest_version() == 3


def test_guard_builds_in_a_few_py4j_calls(spark):
    """The write guard of a 3-column NOT NULL table with one CHECK is
    built from SQL strings by two selectExpr calls: 16 py4j commands,
    five per call plus one per column (per-Column building sent 330)."""
    client = spark.sparkContext._gateway._gateway_client
    fields = [Field("k", "int64", False), Field("v", "string", False), Field("x", "float64", False)]
    df = _pandas_df(spark, 10)
    sent = []
    send = client.send_command
    client.send_command = lambda *a, **k: sent.append(1) or send(*a, **k)
    try:
        guarded = table_mod._guarded(df, fields, {"k_pos": "k >= 0"})
    finally:
        del client.send_command
    assert len(sent) <= 20, len(sent)
    assert guarded.columns == ["k", "v", "x"]


TYPED = [
    Field("i", "int32"), Field("l", "int64"), Field("f", "float32"),
    Field("d", "float64"), Field("s", "string"), Field("b", "boolean"),
    Field("dt", "date"), Field("ts", "timestamp"),
]


def _typed_frames(spark):
    """(distributed, local) frames of the same rows over every declared
    type: NaN, -0.0, nulls, non-ASCII strings, a leap day and a
    microsecond timestamp."""
    import datetime as dt

    import pyarrow as pa
    from pyspark.sql import types as T

    utc = dt.timezone.utc
    rows = [
        (1, 2**40, 1.5, -0.0, "plain", True, dt.date(2024, 2, 29),
         dt.datetime(2024, 2, 29, 23, 59, 59, 999999, tzinfo=utc)),
        (-7, -(2**40), float("nan"), 0.0, "naïve — 日本語 🦆", False,
         dt.date(1999, 12, 31), dt.datetime(1969, 12, 31, 23, 59, 59, 1, tzinfo=utc)),
        (0, 0, -0.0, 2.5, "", None, dt.date(2000, 2, 29),
         dt.datetime(2000, 1, 1, tzinfo=utc)),
        (None, None, None, None, None, None, None, None),
        (2**31 - 1, 5, 0.0, 1e300, "zz", True, dt.date(1970, 1, 1),
         dt.datetime(2024, 3, 1, 0, 0, 0, 1, tzinfo=utc)),
    ]
    types = arrow_types()
    local = spark.createDataFrame(
        pa.table({f.name: pa.array(col, types[f.type]) for f, col in zip(TYPED, zip(*rows))})
    )
    keyed = spark.createDataFrame(
        [(*r, n) for n, r in enumerate(rows)],
        T.StructType([*local.schema.fields, T.StructField("n", T.LongType())]),
    )
    distributed = (
        spark.range(len(rows), numPartitions=2)
        .withColumnRenamed("id", "n")
        .join(keyed, "n")
        .drop("n")
        .coalesce(1)
    )
    assert local.isLocal() and not distributed.isLocal()
    return distributed, local


def _rows(t):
    return sorted(repr(r) for r in t.read().collect())


def test_arrow_and_spark_written_files_match_on_every_type(lake, spark):
    import pyarrow.parquet as pq

    distributed, local = _typed_frames(spark)
    paths = {}
    for name, df in (("by_spark", distributed), ("by_arrow", local)):
        lake.create_table(name, TYPED)
        lake.insert(name, df)
        [f] = lake.table(name).snapshot().files
        paths[name] = os.path.join(lake.table(name).dir, f.path)
    spark_t, arrow_t = lake.table("by_spark"), lake.table("by_arrow")
    assert _rows(spark_t) == _rows(arrow_t)
    assert len(_rows(arrow_t)) == 5

    def footer(path):
        rows, mins, maxs = table_mod._footer_stats(path, TYPED)
        return repr((rows, sorted(mins.items()), sorted(maxs.items())))

    assert footer(paths["by_spark"]) == footer(paths["by_arrow"])

    def column_types(path):
        return [
            (c.name, c.physical_type, str(c.logical_type))
            for c in pq.ParquetFile(path).schema
        ]

    assert column_types(paths["by_spark"]) == column_types(paths["by_arrow"])

    # A table of both writers' files compacts into one with the same rows.
    lake.create_table("mixed", TYPED)
    for df in (distributed, local, local):
        lake.insert("mixed", df)
    mixed = lake.table("mixed")
    sums = [F.sum(c) for c in ("i", "l", "f", "d")] + [F.count("s"), F.max("ts")]
    before_rows, before_sums = _rows(mixed), repr(mixed.read().agg(*sums).collect())
    assert mixed.compact() is not None
    assert len(mixed.snapshot().files) == 1
    assert _rows(mixed) == before_rows
    assert repr(mixed.read().agg(*sums).collect()) == before_sums


def test_concurrent_sql_pinned_versions_during_inserts(lake, spark):
    """sql() callers pinned to different versions of one table, racing
    each other and a writer that keeps committing: every result equals
    its pinned version's row count (the view-registration lock keeps
    one caller from binding another's snapshot)."""
    import sys
    import threading

    lake.create_table("cs", SCHEMA)
    counts = {}
    total = 0
    for size in (10, 20, 30):
        total += size
        counts[lake.insert("cs", _df(spark, total - size, total))] = total

    errors = []
    stop = threading.Event()

    def write():
        lo = total
        try:
            while not stop.is_set():
                lake.insert("cs", _df(spark, lo, lo + 5))
                lo += 5
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    def read(version, expect):
        try:
            for _ in range(6):
                n = lake.sql(
                    "SELECT count(*) AS n FROM cs", versions={"cs": version}
                ).collect()[0].n
                assert n == expect, f"v{version} saw {n}, expected {expect}"
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    writer = threading.Thread(target=write)
    readers = [
        threading.Thread(target=read, args=(v, n))
        for v, n in counts.items()
        for _ in range(2)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        writer.start()
        [r.start() for r in readers]
        [r.join(timeout=300) for r in readers]
        stop.set()
        writer.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in [writer, *readers])
    assert not errors, errors
    assert lake.table("cs").log.latest_version() > max(counts)
