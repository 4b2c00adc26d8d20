"""End-to-end REST façade test: drives the reference's golden query
(tests/integration/golden_query_test.go:16-240) entirely over HTTP —
create table -> insert -> async query -> poll status -> results — plus
versions/snapshot/compaction/vacuum/drop routes."""

import datetime
import json
import time
import urllib.request

import pytest

from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

SCHEMA_API = {
    "fields": [
        {"name": "id", "type": "int64", "nullable": False},
        {"name": "category", "type": "string", "nullable": False},
        {"name": "product", "type": "string", "nullable": False},
        {"name": "price", "type": "float64", "nullable": False},
        {"name": "quantity", "type": "int64", "nullable": False},
        {"name": "date", "type": "string", "nullable": False},
    ]
}

ROWS = [
    {"id": 1, "category": "Electronics", "product": "Laptop", "price": 1000.0, "quantity": 2, "date": "2024-01-01"},
    {"id": 2, "category": "Electronics", "product": "Mouse", "price": 25.0, "quantity": 5, "date": "2024-01-01"},
    {"id": 3, "category": "Electronics", "product": "Keyboard", "price": 75.0, "quantity": 3, "date": "2024-01-02"},
    {"id": 4, "category": "Electronics", "product": "Monitor", "price": 300.0, "quantity": 1, "date": "2024-01-02"},
    {"id": 5, "category": "Furniture", "product": "Chair", "price": 150.0, "quantity": 4, "date": "2024-01-03"},
    {"id": 6, "category": "Furniture", "product": "Desk", "price": 400.0, "quantity": 2, "date": "2024-01-03"},
    {"id": 7, "category": "Furniture", "product": "Lamp", "price": 50.0, "quantity": 6, "date": "2024-01-04"},
    {"id": 8, "category": "Books", "product": "Novel", "price": 15.0, "quantity": 10, "date": "2024-01-05"},
    {"id": 9, "category": "Books", "product": "Textbook", "price": 80.0, "quantity": 3, "date": "2024-01-05"},
]


@pytest.fixture()
def server(lake):
    srv = LakehouseRestServer(lake).start()
    yield srv
    srv.stop()


def _call(srv, method, path, body=None, expect=200):
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
        assert err.code == expect, f"{method} {path}: {err.code} {err.read()}"
        return json.loads(err.read() or b"{}")


def test_golden_query_over_http(server, spark):
    assert _call(server, "GET", "/health")["status"] == "healthy"

    out = _call(server, "POST", "/tables", {"name": "sales", "schema": SCHEMA_API})
    assert out["success"]
    # Duplicate create is a 400, as in the reference.
    _call(server, "POST", "/tables", {"name": "sales", "schema": SCHEMA_API}, expect=400)

    assert _call(server, "POST", "/tables/sales/insert", {"rows": ROWS})["success"]

    info = _call(server, "GET", "/tables/sales")
    assert info["latest_version"] == 2 and info["file_count"] >= 1
    assert [f["name"] for f in info["schema"]["fields"]][:2] == ["id", "category"]

    # Async golden query: GROUP BY category COUNT/AVG.
    out = _call(server, "POST", "/queries", {
        "table_name": "sales",
        "group_by": ["category"],
        "aggregates": [
            {"function": "count", "column": "*", "alias": "item_count"},
            {"function": "avg", "column": "price", "alias": "avg_price"},
        ],
    })
    job_id = out["job_id"]
    deadline = time.time() + 60
    while True:
        status = _call(server, "GET", f"/queries/{job_id}")
        if status["status"] in ("COMPLETED", "FAILED"):
            break
        assert time.time() < deadline
        time.sleep(0.05)
    assert status["status"] == "COMPLETED"
    assert status["metrics"]["input_rows"] == 9
    assert status["metrics"]["output_rows"] == 3

    res = _call(server, "GET", f"/queries/{job_id}/results")
    got = {r["category"]: (r["item_count"], r["avg_price"]) for r in res["rows"]}
    assert got == {
        "Books": (2, 47.5),
        "Electronics": (4, 350.0),
        "Furniture": (3, 200.0),
    }

    # Synchronous /query with a filter.
    res = _call(server, "POST", "/query", {
        "table_name": "sales",
        "filter": "price > 100",
        "projection": ["id", "product"],
        "order_by": ["id"],
    })
    assert [r["product"] for r in res["rows"]] == ["Laptop", "Monitor", "Chair", "Desk"]

    # Unknown job / table / route → 404.
    _call(server, "GET", "/queries/nope", expect=404)
    _call(server, "GET", "/tables/nope", expect=404)
    _call(server, "GET", "/bogus", expect=404)


def test_versions_compaction_vacuum_drop_over_http(server, spark, tmp_path):
    _call(server, "POST", "/tables", {"name": "t2", "schema": SCHEMA_API})
    for i in range(3):
        rows = [dict(r, id=r["id"] + 100 * i) for r in ROWS]
        _call(server, "POST", "/tables/t2/insert", {"rows": rows})

    vs = _call(server, "GET", "/tables/t2/versions")["versions"]
    assert vs == [1, 2, 3, 4]
    snap = _call(server, "GET", "/tables/t2/versions/2/snapshot")
    assert snap["version"] == 2 and snap["file_count"] >= 1
    _call(server, "GET", "/tables/t2/versions/99/snapshot", expect=404)

    assert not _call(server, "GET", "/tables/t2/compaction/status")["running"]
    out = _call(server, "POST", "/tables/t2/compaction", {"force": True})
    assert out["success"] and out["new_version"] == 5

    out = _call(server, "POST", "/tables/t2/vacuum",
                {"retain_versions": 1, "min_age_seconds": 0})
    assert out["success"] and out["deleted_files"] >= 3

    # data_path insert (parquet file on disk).
    p = str(tmp_path / "extra.parquet")
    spark.createDataFrame(
        [(1000, "Books", "Atlas", 60.0, 1, "2024-02-01")],
        "id long, category string, product string, price double, quantity long, date string",
    ).write.parquet(p)
    out = _call(server, "POST", "/tables/t2/data", {"data_path": p})
    assert out["success"] and out["new_version"] == 6

    assert _call(server, "DELETE", "/tables/t2")["success"]
    _call(server, "GET", "/tables/t2", expect=404)


def test_compaction_admin_over_http(server, lake, spark):
    """Admin-surface parity with the reference's CompactionAPI
    (rest_api.go:515-521): candidate metrics, session-wide active list,
    and cancel — including the error paths (cancel with nothing
    running → 400, like the reference's CancelCompaction error)."""
    _call(server, "POST", "/tables", {"name": "ca", "schema": SCHEMA_API})
    for i in range(3):
        rows = [dict(r, id=r["id"] + 100 * i) for r in ROWS]
        _call(server, "POST", "/tables/ca/insert", {"rows": rows})

    m = _call(server, "GET", "/tables/ca/compaction/metrics")
    assert m["table_name"] == "ca" and m["version"] == 4
    assert m["total_files"] >= 3 and m["small_files"] >= 3
    assert m["compaction_needed"] is True
    assert m["small_files_size_bytes"] > 0 and m["total_size_bytes"] > 0
    assert m["average_small_file_size"] > 0
    assert m["potential_savings_bytes"] > 0  # groups exist → 10% estimate
    assert m["timestamp"].endswith("Z")
    _call(server, "GET", "/tables/nope/compaction/metrics", expect=404)

    # Nothing running: active list empty, cancel is a 400.
    out = _call(server, "GET", "/compaction/active")
    assert out == {"active_compactions": [], "count": 0}
    _call(server, "DELETE", "/tables/ca/compaction", expect=400)

    # Hold a compaction in flight (stub blocks where the rewrite would
    # run) and drive status / active / cancel against it.
    import threading

    entered, release = threading.Event(), threading.Event()
    t = lake.table("ca")
    real_compact = t.compact

    def blocking_compact(txn_id=None, cluster_by=None, zorder_by=None, where=None):
        entered.set()
        release.wait(10)
        return None

    t.compact = blocking_compact
    try:
        worker = threading.Thread(target=lambda: lake.compact("ca", force=True))
        worker.start()
        assert entered.wait(10)
        st = _call(server, "GET", "/tables/ca/compaction/status")
        assert st["running"] is True and st["status"] == "RUNNING"
        assert st["txn_id"].startswith("compact-") and st["duration_ms"] >= 0
        act = _call(server, "GET", "/compaction/active")
        assert act["count"] == 1
        assert act["active_compactions"][0]["table_name"] == "ca"
        out = _call(server, "DELETE", "/tables/ca/compaction")
        assert out["success"] is True
        assert _call(server, "GET", "/tables/ca/compaction/status")["status"] == "CANCELLED"
        release.set()
        worker.join(10)
    finally:
        release.set()
        t.compact = real_compact
    assert not _call(server, "GET", "/tables/ca/compaction/status")["running"]

    # After the dust settles the real compaction still works and the
    # table is untouched by the cancelled run.
    out = _call(server, "POST", "/tables/ca/compaction", {"force": True})
    assert out["success"] and out["new_version"] == 5


def test_sql_over_http(server, spark):
    """POST /sql runs real SQL (incl. joins/aggregates) over snapshot
    views, with optional version pinning."""
    _call(server, "POST", "/tables", {"name": "sales", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/sales/insert", {"rows": ROWS})

    res = _call(server, "POST", "/sql", {
        "sql": """
            SELECT category, COUNT(*) AS n, ROUND(SUM(price * quantity), 2) AS revenue
            FROM sales GROUP BY category ORDER BY category
        """
    })
    assert res["columns"] == ["category", "n", "revenue"]
    got = {r["category"]: (r["n"], r["revenue"]) for r in res["rows"]}
    assert got == {"Books": (2, 390.0), "Electronics": (4, 2650.0), "Furniture": (3, 1700.0)}

    # Version pinning: v1 = empty table.
    res = _call(server, "POST", "/sql", {
        "sql": "SELECT COUNT(*) AS n FROM sales", "versions": {"sales": 1}
    })
    assert res["rows"][0]["n"] == 0

    _call(server, "POST", "/sql", {"sql": "SELECT FROM nope ("}, expect=400)
    _call(server, "POST", "/sql", {}, expect=400)


def test_add_columns_over_http(server, spark):
    _call(server, "POST", "/tables", {"name": "evo2", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/evo2/insert", {"rows": ROWS[:2]})
    out = _call(server, "POST", "/tables/evo2/columns", {
        "schema": {"fields": [{"name": "note", "type": "string", "nullable": True}]}
    })
    assert out["success"]
    info = _call(server, "GET", "/tables/evo2")
    assert [f["name"] for f in info["schema"]["fields"]][-1] == "note"
    # Old rows surface the new column as NULL via SQL.
    res = _call(server, "POST", "/sql",
                {"sql": "SELECT COUNT(*) AS n FROM evo2 WHERE note IS NULL"})
    assert res["rows"][0]["n"] == 2
    # Non-nullable addition rejected.
    _call(server, "POST", "/tables/evo2/columns", {
        "schema": {"fields": [{"name": "req", "type": "string", "nullable": False}]}
    }, expect=400)


def test_merge_over_http(server, spark):
    _call(server, "POST", "/tables", {"name": "um", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/um/insert", {"rows": ROWS})
    # Upsert: replace id 1, insert id 100.
    out = _call(server, "POST", "/tables/um/merge", {
        "key": "id",
        "rows": [
            dict(ROWS[0], price=1111.0),
            dict(ROWS[0], id=100, product="Tablet", price=500.0),
        ],
    })
    assert out["success"] and (out["rows_updated"], out["rows_inserted"]) == (1, 1)
    res = _call(server, "POST", "/sql",
                {"sql": "SELECT price FROM um WHERE id IN (1, 100) ORDER BY id"})
    assert [r["price"] for r in res["rows"]] == [1111.0, 500.0]
    # Clause merge: accumulate quantity.
    out = _call(server, "POST", "/tables/um/merge", {
        "key": "id",
        "rows": [dict(ROWS[1], quantity=7)],
        "when_matched": {"quantity": "target.quantity + source.quantity"},
    })
    assert out["rows_updated"] == 1
    res = _call(server, "POST", "/sql", {"sql": "SELECT quantity FROM um WHERE id = 2"})
    assert res["rows"][0]["quantity"] == 12
    _call(server, "POST", "/tables/um/merge", {"rows": [], "key": "id"}, expect=400)


def test_merge_when_matched_cannot_escape_the_row_guard(server, lake):
    """A when_matched value is parsed on its own: text that would close
    the row guard's parentheses is a 400 and commits nothing, rather
    than a NULL written into a NOT NULL column."""
    _call(server, "POST", "/tables", {"name": "umx", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/umx/insert", {"rows": ROWS})
    version = lake.table("umx").log.latest_version()
    _call(server, "POST", "/tables/umx/merge", {
        "key": "id",
        "rows": [ROWS[0]],
        "when_matched": {"product": "NULL) AS string), NULL) || coalesce(CAST((''"},
    }, expect=400)
    assert lake.table("umx").log.latest_version() == version
    res = _call(server, "POST", "/sql",
                {"sql": "SELECT COUNT(*) AS n FROM umx WHERE product IS NULL"})
    assert res["rows"][0]["n"] == 0


def test_table_diff_over_http(server, lake, spark):
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table("difft", [Field("k", "int64"), Field("v", "string")])
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(3, "c")], "k long, v string")
    v1 = lake.insert("difft", df1)
    v2 = lake.insert("difft", df2)

    out = _call(server, "GET", f"/tables/difft/diff/{v1}/{v2}")
    assert out["row_count"] == 1
    assert out["rows"][0]["k"] == 3
    assert out["rows"][0]["_change_type"] == "insert"
    assert out["truncated"] is False

    # The response is bounded: ?limit=N caps serialized rows and flags
    # the cut, so a huge diff can't OOM the driver or emit a GB of JSON.
    out = _call(server, "GET", f"/tables/difft/diff/0/{v2}?limit=2")
    assert out["row_count"] == 2 and out["truncated"] is True
    _call(server, "GET", f"/tables/difft/diff/{v1}/{v2}?limit=0", expect=400)

    # diff/0/N = since-creation CDC: all three rows come back as inserts.
    out = _call(server, "GET", f"/tables/difft/diff/0/{v2}")
    assert out["row_count"] == 3
    assert {r["_change_type"] for r in out["rows"]} == {"insert"}

    _call(server, "GET", "/tables/nope/diff/1/2", expect=404)


def test_cancel_query_over_http(server, lake):
    """DELETE /queries/{id}: finished job -> cancelled=false (lost-race
    contract); synthetic RUNNING job -> cancelled=true + flag set;
    unknown job -> 404."""
    from mini_lakehouse_control_plane_executor_spark.table.catalog import JobInfo

    _call(server, "POST", "/tables", {"table_name": "cq", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/cq/insert", {"rows": ROWS})
    job = _call(server, "POST", "/queries", {"table_name": "cq"})
    job_id = job["job_id"]
    deadline = time.time() + 60
    while time.time() < deadline:
        st = _call(server, "GET", f"/queries/{job_id}")
        if st["status"] in ("COMPLETED", "FAILED"):
            break
        time.sleep(0.05)
    assert st["status"] == "COMPLETED"
    out = _call(server, "DELETE", f"/queries/{job_id}")
    assert out == {"job_id": job_id, "cancelled": False}
    info = JobInfo("syn-http", "RUNNING", started_ms=int(time.time() * 1000))
    with lake._jobs_mu:
        lake._jobs["syn-http"] = info
    out = _call(server, "DELETE", "/queries/syn-http")
    assert out["cancelled"] is True and info.extra["cancel_requested"] is True
    _call(server, "DELETE", "/queries/ghost", expect=404)


def test_shallow_clone_over_http(server, lake):
    """POST /tables/{t}/clone: metadata-only shallow clone — the new
    table serves the pinned snapshot over the query routes, evolves
    independently, and bad requests map to 400/409/404."""
    _call(server, "POST", "/tables", {"table_name": "cl_src", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/cl_src/insert", {"rows": ROWS})
    out = _call(server, "POST", "/tables/cl_src/clone", {"target": "cl_dup"})
    assert out["success"] is True and out["table"] == "cl_dup"
    # clone's data dir is empty (zero copy), reads serve the snapshot
    t = lake.table("cl_dup")
    import os as _os

    assert _os.listdir(t.data_dir) == []
    assert t.read().count() == len(ROWS)
    # source advances; clone stays pinned
    _call(server, "POST", "/tables/cl_src/insert", {"rows": [dict(ROWS[0], id=100)]})
    assert lake.table("cl_src").read().count() == len(ROWS) + 1
    assert t.read().count() == len(ROWS)
    _call(server, "POST", "/tables/cl_src/clone", {}, expect=400)  # no target
    _call(server, "POST", "/tables/cl_src/clone", {"target": "cl_dup"}, expect=409)
    _call(server, "POST", "/tables/ghost/clone", {"target": "x"}, expect=404)
    # malformed version is a CLIENT error (400), never 409/500: a
    # non-numeric string used to hit the semantic try's ValueError arm
    # (409) and a list escaped as TypeError (500)
    for bad in ("abc", [3], {"v": 3}, True):
        _call(
            server,
            "POST",
            "/tables/cl_src/clone",
            {"target": "cl_v", "version": bad},
            expect=400,
        )
        _call(server, "POST", "/tables/cl_src/restore", {"version": bad}, expect=400)
    # numeric-string versions still parse (restore to v2 = first insert)
    out = _call(server, "POST", "/tables/cl_src/clone", {"target": "cl_v", "version": "2"})
    assert out["success"] is True
    assert lake.table("cl_v").read().count() == len(ROWS)
    # semantically-unknown version stays 409
    _call(server, "POST", "/tables/cl_src/restore", {"version": 99}, expect=409)


def test_fuzz_malformed_bodies_never_500(lake, server, spark):
    """Robustness contract: for EVERY route, any syntactically-valid
    JSON body of the wrong shape (non-dict, wrong types, junk fields,
    absurd values) maps to a 4xx — never an unhandled 500. This is the
    fuzz twin of the advisor findings about status-code mapping
    (restore/clone 400-vs-409-vs-500)."""
    import urllib.error
    import urllib.request as _rq

    from mini_lakehouse_control_plane_executor_spark.api.rest import _ROUTES
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table("ft", [Field("a", "int64", False)])
    lake.insert("ft", spark.range(0, 3).selectExpr("id as a"))

    bodies = [
        None, {}, [], "junk", 5, [1, {"x": []}],
        {"version": "abc"}, {"version": {"x": 1}}, {"version": [1, 2]},
        {"name": 123, "schema": "x"}, {"name": ["a"], "expr": {}},
        {"schema": {"fields": [{"name": "", "type": "wat"}]}},
        {"schema": {"fields": "zzz"}},
        {"rows": "nope"}, {"rows": [{"a": {}}], "key": 5},
        {"rows": [[1, 2]], "key": ["a", {"b": 1}]},
        {"sql": 7}, {"sql": {"q": "SELECT 1"}},
        {"expr": [], "name": []},
        {"data_path": 123}, {"data_path": {"p": "/x"}},
        {"target": 5, "version": "x"}, {"table": 9, "filter": {"op": []}},
        {"name": "x" * 100_000},
        {"query": {"table_name": 5, "aggregates": "no"}},
        {"query": {"table_name": "ft", "filter": 17}},
    ]
    subs = {
        r"([A-Za-z0-9_]+)": ["ft", "fz_missing"],
        r"([A-Za-z0-9-]+)": ["no-such-job"],
        r"(\d+)": ["7"],
    }

    def paths_for(pat):
        out = [pat.pattern.lstrip("^").rstrip("$")]
        for group, values in subs.items():
            nxt = []
            for p in out:
                if group in p:
                    nxt.extend(p.replace(group, v, 1) for v in values)
                else:
                    nxt.append(p)
            out = nxt
        # a path still containing a regex group means an unknown shape
        return [p for p in out if "(" not in p]

    import json as _json

    checked = 0
    for method, pat, _fn in _ROUTES:
        # The fuzz grid includes DELETE /tables/ft, which DROPS the
        # fixture table — every route iterated after it was previously
        # fuzzed against a 404, masking real 500s (the r12 review found
        # three). Recreate the fixture before each route so every
        # handler is fuzzed against a LIVE table.
        try:
            lake.table("ft")
        except Exception:
            lake.create_table("ft", [Field("a", "int64", False)])
            lake.insert("ft", spark.range(0, 3).selectExpr("id as a"))
        for path in paths_for(pat):
            for body in bodies if method in ("POST", "DELETE") else [None]:
                req = _rq.Request(
                    f"http://127.0.0.1:{server.port}{path}",
                    method=method,
                    data=_json.dumps(body).encode() if body is not None else None,
                    headers={"Content-Type": "application/json"},
                )
                try:
                    with _rq.urlopen(req, timeout=60) as resp:
                        status = resp.status
                except urllib.error.HTTPError as exc:
                    status = exc.code
                assert status < 500, (
                    f"{method} {path} body={body!r} -> {status}"
                )
                checked += 1
    assert checked > 300  # the grid actually ran


def test_table_name_outside_the_lake_is_rejected(server, lake):
    """A request body's ``table_name`` that is not a table name ("../")
    is refused without touching the filesystem: 400 on the synchronous
    query and on the async one (which creates no job), 404 on a route
    name too long to be a table."""
    import os

    name = "../../escaped"
    for route in ("/query", "/queries"):
        body = _call(server, "POST", route, {"table_name": name}, expect=400)
        assert "no such table" in body["error"]
    assert lake._jobs == {}
    _call(server, "GET", "/tables/" + "x" * 65, expect=404)
    assert os.listdir(os.path.join(lake.root, "tables")) == []
    assert not os.path.exists(os.path.join(lake.root, "..", "escaped"))


def test_oversize_body_413_without_buffering(server):
    """r13 review: _drain_body read the entire declared Content-Length
    in ONE rfile.read on every path (including 404s), so a client
    declaring a multi-GB body forced the server to buffer it per
    keep-alive connection. Declare 10 GB but send nothing: the server
    must answer 413 immediately (it never reads the body) and close the
    connection (the unread bytes would desync keep-alive)."""
    import socket

    with socket.create_connection(("127.0.0.1", server.port), timeout=30) as sock:
        sock.sendall(
            b"POST /tables/whatever/insert HTTP/1.1\r\n"
            b"Host: 127.0.0.1\r\n"
            b"Content-Type: application/json\r\n"
            b"Content-Length: 10737418240\r\n"
            b"\r\n"
        )
        sock.settimeout(30)
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = sock.recv(65536)
            if not chunk:
                break
            buf += chunk
        head = buf.split(b"\r\n\r\n", 1)[0].decode()
        assert " 413 " in head.splitlines()[0], head
        assert "connection: close" in head.lower(), head
        # Server closes without waiting for the 10 GB body.
        rest = b""
        while True:
            chunk = sock.recv(65536)
            if not chunk:
                break
            rest += chunk
    # The listener itself stays healthy for the next connection.
    assert _call(server, "GET", "/health")["status"] == "healthy"


def test_oversize_body_on_unmatched_route_413(server):
    """The drain-only 404 path must ALSO refuse to read an oversize
    body instead of buffering it."""
    import socket

    with socket.create_connection(("127.0.0.1", server.port), timeout=30) as sock:
        sock.sendall(
            b"GET /no/such/route HTTP/1.1\r\n"
            b"Host: 127.0.0.1\r\n"
            b"Content-Length: 10737418240\r\n"
            b"\r\n"
        )
        sock.settimeout(30)
        buf = b""
        while b"\r\n\r\n" not in buf:
            chunk = sock.recv(65536)
            if not chunk:
                break
            buf += chunk
        head = buf.split(b"\r\n\r\n", 1)[0].decode()
        assert " 413 " in head.splitlines()[0], head
        assert "connection: close" in head.lower(), head


def test_merge_server_fault_is_500(server, lake, spark, monkeypatch):
    """r13 review: merge_rows mapped EVERY exception to a 400 'Merge
    failed', so genuine server defects hid behind the fuzz-never-500
    contract. An injected AttributeError must now surface as 500."""
    _call(server, "POST", "/tables", {"name": "m500", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/m500/insert", {"rows": ROWS[:2]})
    from mini_lakehouse_control_plane_executor_spark.table import table as table_mod

    def boom(self, *a, **k):
        raise AttributeError("injected server defect")

    monkeypatch.setattr(table_mod.LakehouseTable, "merge", boom)
    out = _call(
        server,
        "POST",
        "/tables/m500/merge",
        {"rows": [dict(ROWS[0], price=1.0)], "key": "id"},
        expect=500,
    )
    assert "Internal error" in out.get("error", "")


def test_zorder_compaction_over_http(server):
    """POST /tables/{t}/compaction with zorder_by: multi-dimensional
    clustered rewrite; bad columns surface as success=False, not 500."""
    _call(server, "POST", "/tables", {"name": "tzz", "schema": SCHEMA_API})
    for i in range(2):
        rows = [dict(r, id=r["id"] + 100 * i) for r in ROWS]
        _call(server, "POST", "/tables/tzz/insert", {"rows": rows})

    out = _call(
        server, "POST", "/tables/tzz/compaction", {"zorder_by": ["id", "quantity"]}
    )
    assert out["success"], out
    out = _call(
        server, "POST", "/tables/tzz/compaction", {"zorder_by": ["id", "category"]}
    )
    assert not out["success"] and "unsupported" in out["error"]
    out = _call(server, "POST", "/tables/tzz/compaction", {"zorder_by": ["id"]})
    assert not out["success"] and ">= 2" in out["error"]


def test_compaction_where_over_http(server, lake, spark):
    """POST /tables/{t}/compaction with a ``where`` body scopes the
    rewrite to stat-matching files (OPTIMIZE ... WHERE); a non-string
    ``where`` is a 400, and a predicate matching nothing reports
    nothing-to-compact rather than rewriting the table."""
    from pyspark.sql import functions as F

    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table(
        "cwr",
        [Field("k", "int64"), Field("v", "string"), Field("x", "float64")],
    )
    t = lake.table("cwr")
    for lo in range(0, 9000, 1500):
        t.insert(
            spark.range(lo, lo + 1500)
            .select(
                F.col("id").alias("k"),
                F.concat(F.lit("v"), F.col("id")).alias("v"),
                (F.col("id") * 1.5).alias("x"),
            )
            .coalesce(1)
        )
    keep = {f.path for f in t.snapshot().files if int(f.max_values["k"]) < 4500}

    _call(server, "POST", "/tables/cwr/compaction", {"where": 123}, expect=400)

    out = _call(
        server, "POST", "/tables/cwr/compaction",
        {"force": True, "where": "k >= 999999"},
    )
    assert not out["success"] and "nothing" in out["error"]

    out = _call(
        server, "POST", "/tables/cwr/compaction",
        {"force": True, "where": "k >= 4500"},
    )
    assert out["success"]
    after = {f.path for f in t.snapshot().files}
    assert keep <= after and len(after) == 4
    assert t.read().count() == 9000


def test_compaction_where_falsy_nonstring_is_400(server, lake, spark):
    """ADVICE regression: ``{"where": 0}`` / ``false`` / ``""`` must be a
    400, never a silently UNSCOPED compaction (the old ``or None``
    collapsed falsy non-strings to no-scope). The table must be left
    untouched by the rejected calls."""
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table("cwf", [Field("k", "int64")])
    t = lake.table("cwf")
    for lo in (0, 10):
        t.insert(spark.range(lo, lo + 10).selectExpr("id as k").coalesce(1))
    v0 = t.log.latest_version()
    for bad in (0, False, "", "   ", 1.5, [], {}):
        _call(server, "POST", "/tables/cwf/compaction",
              {"force": True, "where": bad}, expect=400)
    assert t.log.latest_version() == v0  # nothing compacted


def test_async_submit_server_fault_is_500(server, lake, monkeypatch):
    """ADVICE regression: a genuine server-side fault inside submit_async
    (not a parse error) must surface as 500 for 5xx monitoring — only
    the synchronous parse/validation classes map to 400."""
    def boom(body):
        raise RuntimeError("catalog wedged")

    monkeypatch.setattr(lake, "submit_async", boom)
    _call(server, "POST", "/queries",
          {"table_name": "nope", "operation": "scan"}, expect=500)


def test_sql_explain_over_http(server, spark):
    """POST /sql {"explain": true} returns the formatted physical plan
    (no execution, no rows): the over-HTTP way to check pushdown /
    broadcast / shuffle shape before paying for a query."""
    _call(server, "POST", "/tables", {"name": "exp_t", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/exp_t/insert", {"rows": ROWS})
    res = _call(server, "POST", "/sql", {
        "sql": "SELECT category, COUNT(*) AS n FROM exp_t "
               "WHERE price > 100 GROUP BY category",
        "explain": True,
    })
    assert set(res) == {"plan"}
    assert "HashAggregate" in res["plan"]
    # non-boolean explain is a 400, not a silent falsy collapse
    _call(server, "POST", "/sql", {"sql": "SELECT 1", "explain": 1}, expect=400)
    # broken SQL still fails cleanly through the explain path
    _call(server, "POST", "/sql", {"sql": "SELECT FROM (", "explain": True},
          expect=400)
    # ANALYSIS errors (unknown column) don't raise inside Spark's
    # ExplainCommand — they come back as plan rows; the endpoint must
    # map them to the same 400 the non-explain path gives, never a 200
    # whose "plan" is an error message.
    _call(server, "POST", "/sql",
          {"sql": "SELECT no_such_col FROM exp_t", "explain": True},
          expect=400)


def test_delete_update_rows_over_http(server, spark):
    """POST /tables/{t}/delete and /update: both modes of DELETE (the
    merge-on-read form commits a deletion vector - visible as dv_rows
    in the snapshot listing), plus expression UPDATE."""
    _call(server, "POST", "/tables", {"name": "du", "schema": SCHEMA_API})
    _call(server, "POST", "/tables/du/insert", {"rows": ROWS})
    out = _call(
        server, "POST", "/tables/du/delete",
        {"filter": "category = 'Books'", "mode": "merge-on-read"},
    )
    assert out["success"] and out["rows_deleted"] == 2
    ver = out["new_version"]
    snap = _call(server, "GET", f"/tables/du/versions/{ver}/snapshot")
    assert sum(f.get("dv_rows", 0) for f in snap["files"]) == 2
    out = _call(
        server, "POST", "/tables/du/update",
        {"filter": "category = 'Furniture'", "set": {"price": "price * 2"}},
    )
    assert out["success"] and out["rows_updated"] == 3
    res = _call(server, "POST", "/query", {
        "table_name": "du",
        "aggregates": [{"function": "count", "column": "*", "alias": "n"}],
    })
    # 9 - 2 deleted = 7 rows remain
    assert res["rows"][0]["n"] == 7
    # merge-on-read UPDATE over HTTP: old rows dv'd (dv_rows grows),
    # rewritten rows append — row count unchanged, values updated.
    out = _call(
        server, "POST", "/tables/du/update",
        {"filter": "category = 'Electronics'", "set": {"price": "price + 1"},
         "mode": "merge-on-read"},
    )
    assert out["success"] and out["rows_updated"] == 4
    snap = _call(
        server, "GET", f"/tables/du/versions/{out['new_version']}/snapshot"
    )
    assert sum(f.get("dv_rows", 0) for f in snap["files"]) > 2
    res = _call(server, "POST", "/query", {
        "table_name": "du",
        "aggregates": [{"function": "count", "column": "*", "alias": "n"}],
    })
    assert res["rows"][0]["n"] == 7
    # malformed bodies are 400s
    _call(server, "POST", "/tables/du/delete", {"filter": ""}, expect=400)
    _call(server, "POST", "/tables/du/delete",
          {"filter": "price > 0", "mode": "bogus"}, expect=400)
    _call(server, "POST", "/tables/du/update",
          {"filter": "price > 0", "set": {"price": 7}}, expect=400)
    _call(server, "POST", "/tables/du/update",
          {"filter": "price > 0", "set": {"nope": "'x'"}}, expect=400)
    _call(server, "POST", "/tables/du/update",
          {"filter": "price > 0", "set": {"price": "price"},
           "mode": "bogus"}, expect=400)


# One value of each JSON kind: int, int beyond int32, float, bool, str,
# null, array, object.
_JSON_KINDS = [7, 2**40, 1.5, True, "abc", None, [1, 2], {"a": 1}]
_ALL_TYPES = ["int32", "int64", "float32", "float64", "string", "boolean", "date", "timestamp"]


def _status(srv, method, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        method=method,
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status
    except urllib.error.HTTPError as err:
        return err.code


def _row_list_status(lake, spark, name, op, rows):
    """Reference: the row-list ``createDataFrame`` path the REST
    handlers used before their rows became an Arrow table."""
    from mini_lakehouse_control_plane_executor_spark.api.rest import _CLIENT_INPUT_ERRORS

    t = lake.table(name)
    try:
        df = spark.createDataFrame(
            [tuple(r[f.name] for f in t.fields) for r in rows], t.spark_schema
        )
        if op == "insert":
            t.insert(df)
        else:
            t.merge(df, "k")
    except _CLIENT_INPUT_ERRORS:
        return 400
    return 200


def _stored(lake, name):
    return {r["k"]: repr(r.asDict()) for r in lake.table(name).read().collect()}


def _both(server, lake, spark, op, rows, ref_rows=None):
    """(REST status, row-list status) of one request, each against its
    own table. ``ref_rows`` replaces ``rows`` on the row-list path where
    a JSON value stands for another Python value."""
    got = _status(server, "POST", f"/tables/mx_rest/{op}", {"rows": rows, "key": "k"})
    return got, _row_list_status(lake, spark, "mx_ref", op, ref_rows or rows)


def _as_read(typ, v):
    """The Python value REST reads JSON value ``v`` in a ``typ`` column
    as: JSON has no integral float, so an int in a float column is that
    float (these cells were 400s on both paths)."""
    if typ.startswith("float") and type(v) is int:
        return float(v)
    return v


def test_rest_rows_type_matrix_matches_row_list_path(server, lake, spark):
    """Every schema type x every JSON value kind: REST insert and merge
    (Arrow rows) give the status and stored value of the row-list path,
    computed here as the reference."""
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    fields = [Field("k", "int64", False)] + [Field(f"c_{t}", t) for t in _ALL_TYPES]
    for name in ("mx_rest", "mx_ref"):
        lake.create_table(name, fields)
    cells = []
    for typ in _ALL_TYPES:
        for v in _JSON_KINDS:
            row = {f.name: None for f in fields} | {"k": len(cells), f"c_{typ}": v}
            cells.append((typ, v, row))
    # Insert: one request per cell.
    status = {}
    for typ, v, row in cells:
        ref = row | {f"c_{typ}": _as_read(typ, v)}
        got, want = _both(server, lake, spark, "insert", [row], [ref])
        assert got == want, ("insert", typ, v, got, want)
        status[typ, json.dumps(v)] = got
    # Merge (new keys, so every accepted row is inserted): each rejected
    # cell alone, then the accepted cells in one request, which
    # succeeds only if every one of its rows is accepted.
    accepted, accepted_ref = [], []
    for typ, v, row in cells:
        row = row | {"k": row["k"] + len(cells)}
        if status[typ, json.dumps(v)] == 200:
            accepted.append(row)
            accepted_ref.append(row | {f"c_{typ}": _as_read(typ, v)})
        else:
            assert _both(server, lake, spark, "merge", [row]) == (400, 400), (typ, v)
    assert _both(server, lake, spark, "merge", accepted, accepted_ref) == (200, 200)
    # Any JSON value into a string column keeps the row path's text.
    texts = [1e20, 0.1, False, 42, {"a": 1}, [1, 2], True]
    rows = [
        {f.name: None for f in fields} | {"k": 1000 + i, "c_string": v}
        for i, v in enumerate(texts)
    ]
    assert _both(server, lake, spark, "insert", rows) == (200, 200)
    assert _stored(lake, "mx_rest") == _stored(lake, "mx_ref")
    assert [
        r["c_string"]
        for r in lake.table("mx_rest").read().filter("k >= 1000").orderBy("k").collect()
    ] == ["1e+20", "0.1", "false", "42", "{'a': 1}", "[1, 2]", "true"]
    # An ISO-8601 string into a date or timestamp column is the date or
    # UTC instant it names; the row-list path is given that value.
    utc = datetime.timezone.utc
    iso = [
        ("c_date", "2024-02-29", datetime.date(2024, 2, 29)),
        ("c_timestamp", "2024-02-29T12:34:56Z", datetime.datetime(2024, 2, 29, 12, 34, 56, tzinfo=utc)),
        ("c_timestamp", "2024-02-29T14:34:56.5+02:00",
         datetime.datetime(2024, 2, 29, 12, 34, 56, 500000, tzinfo=utc)),
        ("c_timestamp", "2024-02-29 12:00", datetime.datetime(2024, 2, 29, 12, tzinfo=utc)),
    ]
    for op, base in (("insert", 2000), ("merge", 3000)):
        rows = [
            {f.name: None for f in fields} | {"k": base + i, col: v}
            for i, (col, v, _) in enumerate(iso)
        ]
        refs = [row | {col: want} for row, (col, _, want) in zip(rows, iso)]
        assert _both(server, lake, spark, op, rows, refs) == (200, 200)
    assert _stored(lake, "mx_rest") == _stored(lake, "mx_ref")
    # Arrow would coerce these silently; they stay 400s.
    for typ, v in [("int32", 1.5), ("int64", 1.5), ("date", 7), ("timestamp", 7),
                   ("date", 1.5), ("float32", True), ("float64", True)]:
        assert status[typ, json.dumps(v)] == 400, (typ, v)
    assert sum(s == 200 for s in status.values()) == len(accepted) == 25


@pytest.mark.parametrize("op", ["insert", "merge"])
def test_rest_rows_constraints_match_row_list_path(server, lake, spark, op):
    """NOT NULL and CHECK violations are 400s on both paths; a
    non-string into a NOT NULL string column is stored as text."""
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    fields = [Field("k", "int64", False), Field("s", "string", False), Field("n", "int64")]
    for name in ("cx_rest", "cx_ref"):
        lake.create_table(name, fields, constraints={"n_nonneg": "n >= 0"})
    cases = [
        ({"k": 1, "s": "a", "n": 1}, 200),
        ({"k": 2, "s": None, "n": 1}, 400),   # NOT NULL string
        ({"k": None, "s": "b", "n": 1}, 400),  # NOT NULL key
        ({"k": 3, "s": "c", "n": -1}, 400),   # CHECK
        ({"k": 4, "s": 5, "n": None}, 200),   # non-string into NOT NULL string
        ({"k": 5, "s": True, "n": 2}, 200),
        ({"k": 6, "s": "d"}, 400),            # missing field
    ]
    for row, expect in cases:
        got = _status(server, "POST", f"/tables/cx_rest/{op}", {"rows": [row], "key": "k"})
        assert got == expect == _row_list_status(lake, spark, "cx_ref", op, [row]), row
    assert _stored(lake, "cx_rest") == _stored(lake, "cx_ref")
    assert {r["k"]: r["s"] for r in lake.table("cx_rest").read().collect()} == {
        1: "a", 4: "5", 5: "true"
    }


@pytest.mark.parametrize("op", ["insert", "merge"])
def test_rest_rows_unknown_keys_are_400(server, lake, spark, op):
    """A row key outside the table schema is rejected by name, not
    silently dropped (the library insert raises on extra columns too)."""
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    lake.create_table("uk", [Field("g", "int64"), Field("w", "int64")])
    out = _call(
        server, "POST", f"/tables/uk/{op}",
        {"rows": [{"g": 1, "w": 2, "wieght": 3}], "key": "g"}, expect=400,
    )
    assert "wieght" in out["error"]
    assert lake.table("uk").read().count() == 0
    assert _call(
        server, "POST", f"/tables/uk/{op}", {"rows": [{"g": 1, "w": 2}], "key": "g"}
    )["success"]
