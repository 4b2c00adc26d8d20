"""CHECK constraints (Delta `ADD CONSTRAINT CHECK` semantics): declared
at create time, analyzed against the schema immediately, enforced inside
every insert's write pass — TRUE or NULL passes, FALSE fails the whole
transaction and commits nothing."""

import os
from dataclasses import replace

import pytest

from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [
    Field("id", "int64", False),
    Field("amount", "float64", True),
    Field("status", "string", True),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, amount double, status string")


def test_constraint_enforced_on_insert(lake, spark):
    lake.create_table(
        "ck",
        SCHEMA,
        constraints={
            "positive_amount": "amount > 0",
            "known_status": "status IN ('new', 'done')",
        },
    )
    t = lake.table("ck")
    assert set(t.constraints) == {"positive_amount", "known_status"}

    lake.insert("ck", _df(spark, [(1, 5.0, "new"), (2, 1.0, "done")]))
    assert t.read().count() == 2
    files_before = sorted(os.listdir(t.data_dir))

    with pytest.raises(Exception, match="positive_amount"):
        lake.insert("ck", _df(spark, [(3, -1.0, "new")]))
    # A failed write leaves no stage and no data file behind.
    assert os.listdir(t.tmp_dir) == []
    assert sorted(os.listdir(t.data_dir)) == files_before
    with pytest.raises(Exception, match="known_status"):
        lake.insert("ck", _df(spark, [(3, 1.0, "bogus")]))
    assert os.listdir(t.tmp_dir) == []
    assert sorted(os.listdir(t.data_dir)) == files_before
    # Failed writes committed nothing — table unchanged, no orphan version.
    assert t.read().count() == 2
    assert t.log.latest_version() == 2


def test_null_passes_check(lake, spark):
    """SQL CHECK semantics: NULL (unknown) is not a violation."""
    lake.create_table("cn", SCHEMA, constraints={"pos": "amount > 0"})
    lake.insert("cn", _df(spark, [(1, None, None)]))
    assert lake.table("cn").read().count() == 1


def test_bad_constraint_rejected_at_create(lake):
    with pytest.raises(ValueError, match="does not analyze"):
        lake.create_table("cb", SCHEMA, constraints={"oops": "no_such_col > 0"})
    with pytest.raises(ValueError, match="invalid constraint name"):
        lake.create_table("cb", SCHEMA, constraints={"bad name!": "amount > 0"})


def test_constraint_applies_to_post_cast_values(lake, spark):
    """Constraints see the table-typed (post-cast) values, like Delta: a
    string '3' arriving for an int64 column satisfies `id < 10` after
    the cast."""
    lake.create_table("cp", SCHEMA, constraints={"small_id": "id < 10"})
    src = spark.createDataFrame([("3", 1.0, "new")], "id string, amount double, status string")
    lake.insert("cp", src)
    assert lake.table("cp").read().collect()[0]["id"] == 3
    with pytest.raises(Exception, match="small_id"):
        lake.insert("cp", spark.createDataFrame(
            [("30", 1.0, "new")], "id string, amount double, status string"
        ))


def test_constraints_over_http(lake):
    import json
    import urllib.request
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    srv = LakehouseRestServer(lake).start()
    try:
        def call(method, path, body=None, expect=200):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}{path}",
                method=method,
                data=json.dumps(body).encode() if body is not None else None,
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    assert resp.status == expect
                    return json.load(resp)
            except urllib.error.HTTPError as err:
                assert err.code == expect, f"{path}: {err.code}"
                return json.loads(err.read() or b"{}")

        schema = {"fields": [{"name": f.name, "type": f.type, "nullable": f.nullable} for f in SCHEMA]}
        call("POST", "/tables", {"table_name": "ch", "schema": schema,
                                 "constraints": {"pos": "amount > 0"}})
        info = call("GET", "/tables/ch")
        assert info["constraints"] == {"pos": "amount > 0"}
        call("POST", "/tables", {"table_name": "ch2", "schema": schema,
                                 "constraints": {"oops": "ghost > 0"}}, expect=400)
        # Violating inline insert -> 400, nothing committed.
        call("POST", "/tables/ch/insert",
             {"rows": [{"id": 1, "amount": -5.0, "status": "new"}]}, expect=400)
        assert call("GET", "/tables/ch")["latest_version"] == 1
    finally:
        srv.stop()


def test_constraint_enforced_on_merge_source(lake, spark):
    """MERGE rows pass through the same CHECK gate as insert."""
    lake.create_table("cm", SCHEMA, constraints={"pos": "amount > 0"})
    lake.insert("cm", _df(spark, [(1, 5.0, "new")]))
    v, upd, ins = lake.merge("cm", _df(spark, [(2, 3.0, "new")]), key="id")
    assert ins == 1
    with pytest.raises(Exception, match="pos"):
        lake.merge("cm", _df(spark, [(3, -4.0, "new")]), key="id")
    t = lake.table("cm")
    assert t.read().count() == 2


def test_failed_merge_unpersists_its_source(lake, spark):
    """A merge whose source fails a CHECK raises before its commit loop;
    the source it persisted must still be released."""
    lake.create_table("cmc", SCHEMA, constraints={"pos": "amount > 0"})
    lake.insert("cmc", _df(spark, [(1, 5.0, "new")]))
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    with pytest.raises(Exception, match="pos"):
        lake.merge("cmc", _df(spark, [(3, -4.0, "new")]), key="id")
    assert cache.isEmpty()


def test_add_constraint_post_hoc(lake, spark):
    """ALTER-style ADD CONSTRAINT: validated against existing rows —
    rejected (nothing changes) when data already violates, enforced on
    subsequent writes when accepted."""
    lake.create_table("ca", SCHEMA)
    lake.insert("ca", _df(spark, [(1, 5.0, "new"), (2, -1.0, "new")]))
    t = lake.table("ca")
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "amount > 0")
    assert t.constraints == {}
    t.add_constraint("small_id", "id < 100")
    assert t.constraints == {"small_id": "id < 100"}
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("small_id", "id < 50")
    with pytest.raises(Exception, match="small_id"):
        lake.insert("ca", _df(spark, [(200, 1.0, "new")]))
    # update() rewrites pass the gate too.
    with pytest.raises(Exception, match="small_id"):
        t.update("id = 1", {"id": "500"})
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]


def test_add_constraint_over_http(lake, spark):
    import json
    import urllib.request
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    lake.create_table("cah", SCHEMA)
    lake.insert("cah", _df(spark, [(1, 5.0, "new")]))
    srv = LakehouseRestServer(lake).start()
    try:
        def post(path, body, expect=200):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}{path}", method="POST",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req) as resp:
                    assert resp.status == expect
                    return json.load(resp)
            except urllib.error.HTTPError as err:
                assert err.code == expect, f"{path}: {err.code}"
                return json.loads(err.read() or b"{}")

        out = post("/tables/cah/constraints", {"name": "pos", "expr": "amount > 0"})
        assert out["constraints"] == {"pos": "amount > 0"}
        post("/tables/cah/constraints", {"name": "bad", "expr": "ghost > 0"}, expect=409)
        post("/tables/cah/constraints", {"name": "neg", "expr": "amount < 0"}, expect=409)
        post("/tables/cah/constraints", {}, expect=400)
    finally:
        srv.stop()


# -- versioned constraints (round 6): CHECKs live in the commit log -----


def test_constraints_versioned_in_log(lake, spark):
    """CHECK constraints are carried in the transaction log (Delta
    table-feature semantics), not a sidecar: time travel sees the
    constraint set of the version it reads, and creation is one atomic
    commit (no separate file to half-write)."""
    import os

    lake.create_table("cv", SCHEMA, constraints={"pos": "amount > 0"})
    t = lake.table("cv")
    # No sidecar file: the v1 log entry is the only constraint record.
    assert not os.path.exists(os.path.join(t.dir, "_constraints.json"))
    assert t.snapshot(1).constraints == {"pos": "amount > 0"}

    lake.insert("cv", _df(spark, [(1, 5.0, "new")]))
    t.add_constraint("known", "status IN ('new', 'done')")
    v_after_add = t.log.latest_version()
    # add_constraint is a versioned commit; earlier versions don't see it.
    assert set(t.snapshot(v_after_add).constraints) == {"pos", "known"}
    assert set(t.snapshot(2).constraints) == {"pos"}
    assert set(t.constraints) == {"pos", "known"}


def test_restore_restores_constraints(lake, spark):
    """RESTORE brings back the CHECK set of the target version along
    with its data (Delta versions constraints in the log; so do we)."""
    lake.create_table("cr", SCHEMA, constraints={"pos": "amount > 0"})
    t = lake.table("cr")
    lake.insert("cr", _df(spark, [(1, 5.0, "new")]))
    v_before = t.log.latest_version()
    t.add_constraint("small", "amount < 100")
    with pytest.raises(Exception, match="small"):
        lake.insert("cr", _df(spark, [(2, 150.0, "new")]))
    t.restore(v_before)
    # The restored state has only the original constraint...
    assert set(t.constraints) == {"pos"}
    # ...so the insert the added constraint rejected now passes.
    lake.insert("cr", _df(spark, [(2, 150.0, "new")]))
    assert t.read().count() == 2


def test_add_constraint_validates_against_current_rows(lake, spark):
    lake.create_table("ca", SCHEMA)
    lake.insert("ca", _df(spark, [(1, -5.0, "new")]))
    t = lake.table("ca")
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "amount > 0")
    # Nothing committed: constraint set unchanged.
    assert t.constraints == {}
    with pytest.raises(ValueError, match="does not analyze"):
        t.add_constraint("oops", "no_such_col > 0")


def test_commit_recheck_catches_racing_add_constraint(lake, spark):
    """The insert commit loop re-validates staged files when the
    snapshot's constraint set differs from the set enforced during the
    write pass (the add_constraint-vs-insert race, closed via the OCC
    CAS both sides serialize through)."""
    lake.create_table("crc", SCHEMA)
    lake.insert("crc", _df(spark, [(1, -5.0, "new")]))
    t = lake.table("crc")
    snap = t.snapshot()

    def at(current):
        return replace(snap, constraints=current)

    # Directly exercise the commit-time recheck against the staged adds.
    with pytest.raises(ValueError, match="added concurrently"):
        t._recheck_constraints(
            snap.files, enforced={}, snap=at({"pos": "amount > 0"})
        )
    # No change to the enforced set -> no scan, no error.
    t._recheck_constraints(snap.files, enforced={}, snap=at({}))
    t._recheck_constraints(
        snap.files,
        enforced={"neg": "amount < 0"},
        snap=at({"neg": "amount < 0"}),
    )


def test_merge_honours_check_added_while_it_retries(lake, spark, monkeypatch):
    """A CHECK committed between a merge's plan and its commit gates the
    merge's retry: the retried merge must not commit a row that CHECK
    rejects, and the files its two attempts wrote are removed."""
    lake.create_table("mrc", SCHEMA)
    lake.insert("mrc", _df(spark, [(1, 5.0, "new")]))
    t = lake.table("mrc")
    version = t.log.latest_version()
    data_files = sorted(os.listdir(t.data_dir))
    real_commit = t.log.commit
    raced = {"done": False}

    def racing_commit(base_version, txn_id, schema, adds=None, removes=None, **kw):
        # The merge's first commit: a concurrent add_constraint wins the
        # version first, so the merge's CAS loses and it retries.
        if txn_id.startswith("merge-race") and not raced["done"]:
            raced["done"] = True
            t.add_constraint("nonneg", "amount >= 0")
        return real_commit(base_version, txn_id, schema, adds, removes, **kw)

    monkeypatch.setattr(t.log, "commit", racing_commit)
    with pytest.raises(Exception, match="nonneg"):
        t.merge(_df(spark, [(3, -5.0, "new")]), key="id", txn_id="merge-race-1")
    monkeypatch.setattr(t.log, "commit", real_commit)
    assert raced["done"]
    assert t.log.latest_version() == version + 1  # only the constraint
    assert t.constraints == {"nonneg": "amount >= 0"}
    assert sorted((r.id, r.amount) for r in t.read().collect()) == [(1, 5.0)]
    assert sorted(os.listdir(t.data_dir)) == data_files
    assert os.listdir(t.tmp_dir) == []


def test_commit_timestamps_monotone(lake, spark, tmp_path):
    """commit() enforces ts = max(now, prev_ts + 1): a wall clock that
    steps backwards cannot produce an out-of-order timestamp sequence,
    so version_at_timestamp's binary search stays correct."""
    import json
    import os

    from mini_lakehouse_control_plane_executor_spark.table.log import TransactionLog

    lake.create_table("mono", SCHEMA)
    t = lake.table("mono")
    # Forge a FUTURE timestamp on the latest entry (simulates NTP step
    # back between two commits from the writer's point of view).
    v1 = t.log.latest_version()
    path = t.log._entry_path(v1)
    entry = json.load(open(path))
    future = entry["timestamp_ms"] + 3_600_000
    entry["timestamp_ms"] = future
    tmp = path + ".tmp"
    json.dump(entry, open(tmp, "w"))
    os.replace(tmp, path)

    fresh = TransactionLog(t.dir)  # no cached entry state
    v2 = fresh.commit(v1, "mono-txn", t.fields)
    assert fresh.read_entry(v2).timestamp_ms == future + 1
    # timestampAsOf at the forged instant resolves to v1, just after to v2.
    assert fresh.version_at_timestamp(future) == v1
    assert fresh.version_at_timestamp(future + 1) == v2


def test_merge_when_matched_enforces_check(lake, spark):
    """when_matched assignments produce NEW values, so they pass the
    CHECK gate like inserts: a merge that would update a row into
    violation fails atomically (no version, rows unchanged)."""
    lake.create_table("cm", SCHEMA, constraints={"pos": "amount > 0"})
    lake.insert("cm", _df(spark, [(1, 5.0, "new"), (2, 7.0, "done")]))
    t = lake.table("cm")
    v = t.log.latest_version()
    # Source row itself PASSES the gate; only the when_matched
    # assignment produces the violating value.
    src = _df(spark, [(1, 2.0, "new")])
    with pytest.raises(Exception, match="pos"):
        t.merge(src, "id", when_matched={"amount": "-1.0"})
    assert t.log.latest_version() == v
    assert {r.id: r.amount for r in t.read().collect()} == {1: 5.0, 2: 7.0}
    # A passing when_matched assignment still works.
    t.merge(src, "id", when_matched={"amount": "2.5"})
    assert {r.id: r.amount for r in t.read().collect()}[1] == 2.5


def test_constraints_survive_checkpoint_cold_start(lake, spark):
    """The checkpoint format carries the constraint set: a fresh
    TransactionLog handle (new process) that cold-starts from a
    checkpoint — never replaying the v1 entry that declared the CHECK —
    must still see and enforce it."""
    from mini_lakehouse_control_plane_executor_spark.table.log import (
        CHECKPOINT_INTERVAL,
        TransactionLog,
    )

    lake.create_table("ckpt", SCHEMA, constraints={"pos": "amount > 0"})
    t = lake.table("ckpt")
    # Drive past a checkpoint boundary.
    for i in range(CHECKPOINT_INTERVAL + 1):
        lake.insert("ckpt", _df(spark, [(i, 1.0, "new")]))
    assert t.log.list_checkpoints(), "expected a checkpoint to exist"

    fresh = TransactionLog(t.dir)  # cold cache, loads from checkpoint
    assert fresh.snapshot().constraints == {"pos": "amount > 0"}
    # Enforcement via a fresh table handle too.
    from mini_lakehouse_control_plane_executor_spark.table.table import LakehouseTable

    t2 = LakehouseTable(spark, lake.root, "ckpt")
    with pytest.raises(Exception, match="pos"):
        t2.insert(_df(spark, [(99, -1.0, "new")]))


def test_drop_constraint_versioned_and_restorable(lake, spark):
    """DROP CONSTRAINT is a versioned commit: enforcement stops at the
    drop version, RESTORE to a pre-drop version brings the CHECK back,
    and dropping an unknown name raises."""
    lake.create_table(
        "cd", SCHEMA, constraints={"pos": "amount > 0", "small": "id < 100"}
    )
    t = lake.table("cd")
    lake.insert("cd", _df(spark, [(1, 5.0, "new")]))
    v_before_drop = t.log.latest_version()

    t.drop_constraint("pos")
    assert set(t.constraints) == {"small"}
    # Previously-rejected rows now pass...
    lake.insert("cd", _df(spark, [(2, -3.0, "new")]))
    assert t.read().count() == 2
    # ...but the other constraint still enforces.
    with pytest.raises(Exception, match="small"):
        lake.insert("cd", _df(spark, [(500, 1.0, "new")]))
    with pytest.raises(KeyError, match="no such constraint"):
        t.drop_constraint("ghost")
    # Time travel sees the pre-drop set; RESTORE brings it back.
    assert set(t.snapshot(v_before_drop).constraints) == {"pos", "small"}
    t.restore(v_before_drop)
    assert set(t.constraints) == {"pos", "small"}
    with pytest.raises(Exception, match="pos"):
        lake.insert("cd", _df(spark, [(3, -1.0, "new")]))


def test_drop_constraint_on_legacy_sidecar_table(lake, spark):
    """A table whose constraints predate log-versioning (sidecar file)
    can still drop them: the commit moves the set into the log and
    retires the sidecar, so an emptied set stays empty instead of
    resurrecting through the legacy fallback."""
    import json
    import os

    lake.create_table("cl", SCHEMA)
    t = lake.table("cl")
    # Simulate a pre-versioning table: constraint only in the sidecar.
    with open(os.path.join(t.dir, "_constraints.json"), "w") as f:
        json.dump({"pos": "amount > 0"}, f)
    assert t.constraints == {"pos": "amount > 0"}
    with pytest.raises(Exception, match="pos"):
        lake.insert("cl", _df(spark, [(1, -1.0, "new")]))

    t.drop_constraint("pos")
    assert t.constraints == {}
    assert not os.path.exists(os.path.join(t.dir, "_constraints.json"))
    lake.insert("cl", _df(spark, [(1, -1.0, "new")]))
    assert t.read().count() == 1


def test_drop_constraint_over_http(lake, spark):
    import json
    import urllib.request
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    lake.create_table("cdh", SCHEMA, constraints={"pos": "amount > 0"})
    srv = LakehouseRestServer(lake).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/tables/cdh/constraints/pos",
            method="DELETE",
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
            assert json.load(resp)["constraints"] == {}
        # Unknown constraint -> 404.
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/tables/cdh/constraints/ghost",
            method="DELETE",
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as err:
            assert err.code == 404
    finally:
        srv.stop()
    lake.insert("cdh", _df(spark, [(1, -1.0, "new")]))  # gate gone
    assert lake.table("cdh").read().count() == 1


def test_guard_embeds_names_and_check_text(lake, spark):
    """The write guard is SQL text: a column name with a space, a CHECK
    holding a doubled quote, a backslash and a trailing ``--`` comment,
    and UPDATE/when_matched expressions ending in a comment all pass
    through it unchanged. Good rows commit on insert, UPDATE and merge;
    bad rows raise the exact NOT NULL and CHECK messages."""
    import re

    check = "`a b` >= 0 AND `xy` <> 'it''s \\\\ here' -- no negatives"
    lake.create_table(
        "ce",
        [Field("a b", "int64", False), Field("xy", "string", False), Field("n", "int64")],
        constraints={"c1": check},
    )
    t = lake.table("ce")
    violated = re.escape(f"CHECK constraint 'c1' violated: ({check})")
    null_ab = re.escape("NOT NULL constraint violated: column 'a b'")
    null_xy = re.escape("NOT NULL constraint violated: column 'xy'")

    def df(rows):
        return spark.createDataFrame(rows, "`a b` long, xy string, n long")

    t.insert(df([(1, "x", 1), (2, "y", 2)]))
    for rows, message in (
        ([(-1, "x", 3)], violated),
        ([(3, "it's \\ here", 3)], violated),
        ([(None, "x", 3)], null_ab),
        ([(3, None, 3)], null_xy),
    ):
        with pytest.raises(Exception, match=message):
            t.insert(df(rows))
    t.update("n = 1", {"xy": "concat(xy, '!') -- shout"})
    with pytest.raises(Exception, match=violated):
        t.update("n = 1", {"a b": "-`a b` -- negate"})
    t.merge(df([(2, "z", 20)]), "a b", when_matched={"xy": "source.xy -- take theirs"})
    for when_matched, message in (
        ({"xy": "NULL -- drop"}, null_xy),
        ({"a b": "-target.`a b` -- negate"}, violated),
    ):
        with pytest.raises(Exception, match=message):
            t.merge(df([(2, "w", 20)]), "a b", when_matched=when_matched)
    # Caller text is parsed on its own before any guard embeds it: text
    # that would close the guard's parentheses is a parse error, not a
    # NULL written past the NOT NULL check or a CHECK that always holds.
    with pytest.raises(Exception, match="PARSE_SYNTAX_ERROR"):
        t.merge(
            df([(2, "w", 20)]),
            "a b",
            when_matched={"xy": "NULL) AS string), NULL) || coalesce(CAST((''"},
        )
    with pytest.raises(ValueError, match="does not analyze"):
        t.add_constraint("c2", "true) AS boolean), true) OR coalesce(CAST((false")
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "x!", 1), (2, "z", 2)]
    assert t.log.latest_version() == 4
