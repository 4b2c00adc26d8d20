"""serve: REST clients in closed loops against an in-process server.

Set-up builds a ``fact`` table of 400 files across 10 insert versions, each
file holding a contiguous id range (so min/max stats prune ``id`` filters
and cannot prune ``amt`` filters), plus a small ``dim`` table, and starts a
``LakehouseRestServer`` on 127.0.0.1; set-up runs ``SETUP_REPEATS`` times,
after an untimed smaller build, and the clients use the last build. One
client thread per CPU then runs a fixed number of whole op cycles
(``CYCLES``), each client waiting for every reply before sending its next
request:

- ``hit``: async SimpleQuery on ``fact`` whose ``id`` range keeps ~3 files;
- ``hit_old``: the same, pinned to an older ``fact`` version (time travel);
- ``miss``: async query filtering on ``amt``, which prunes no file;
- ``sql``: POST /sql over ``dim``, pinned to a version the model knows;
- ``insert``: POST /tables/dim/insert with 5 seeded rows.

An async query is POST /queries, then GET /queries/{id} every ``POLL_S``
until it finishes, then GET /queries/{id}/results; its latency runs from
submit to results in hand. Every result is compared with numpy's answer for
the pinned version.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import harness, tracing

FACT_VERSIONS = 10
FILES_PER_VERSION = 40
ROWS_PER_FILE = 1000
ROWS_PER_VERSION = FILES_PER_VERSION * ROWS_PER_FILE
G_MOD, AMT_MOD = 97, 10_007
DIM_INSERT_ROWS = 5
# Fixed status-poll interval. It adds at most 0.1 s to a query that takes
# 1-4 s; at 20 ms the poll's own round trip (about 45 ms under load) set the
# rate instead.
POLL_S = 0.1
REQUEST_TIMEOUT_S = 60.0
SETUP_REPEATS = 3
WARM_VERSIONS = 2  # fact versions of the untimed warm-up build
SETUP_WRITERS = 2
# Each client repeats a 4-op cycle: two pruned reads (one pinned to an
# older version), an insert, and one op that touches all 400 files: a
# full-scan query on even clients, SQL (which rebuilds every view) on odd
# ones. Client c starts its cycle at op c % 4. Every client runs the same
# number of whole cycles, one per CYCLE_S of --seconds, so every run does
# the same work; CYCLE_S is about one cycle's time under 4 clients on 4 CPUs.
CYCLE_S = 15.0
CYCLES = (["hit", "insert", "hit_old", "miss"], ["hit", "insert", "hit_old", "sql"])
KINDS = ["hit", "hit_old", "miss", "sql", "insert"]


def client_cycle(idx: int) -> list[str]:
    base = CYCLES[idx % 2]
    return base[idx % 4:] + base[: idx % 4]


class Model:
    """What the tables hold, computed independently of the program."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 0])
        self.a, self.b, self.c, self.d = (int(x) for x in rng.integers(1, 1_000, 4))
        self.dim_base = rng.integers(0, 1_000, G_MOD, dtype=np.int64)
        self.dim_batches: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self.dim_base_version = 0
        # fact commit version -> first id of the slice that commit added
        self.fact_slices: dict[int, int] = {}
        self._mu = threading.Lock()

    def fact_visible(self, version: int) -> list[int]:
        """First ids of the fact slices visible at ``version``."""
        return sorted(lo for v, lo in self.fact_slices.items() if v <= version)

    def fact_answer(self, version: int, lo: int, hi: int, amt_below: int | None):
        ids = np.concatenate([
            np.arange(max(lo, s), min(hi, s + ROWS_PER_VERSION), dtype=np.int64)
            for s in self.fact_visible(version)
        ])
        amt = (ids * self.c + self.d) % AMT_MOD
        if amt_below is not None:
            amt = amt[amt < amt_below]
        return {"n": int(len(amt)), "s": int(amt.sum()) if len(amt) else None}

    def add_dim_batch(self, version: int, g: np.ndarray, w: np.ndarray) -> None:
        with self._mu:
            self.dim_batches[version] = (g, w)

    def dim_pin(self) -> int:
        """Newest dim version below which every commit's rows are known."""
        with self._mu:
            v = self.dim_base_version
            while v + 1 in self.dim_batches:
                v += 1
            return v

    def dim_answer(self, version: int, g_below: int):
        with self._mu:
            parts = [(np.arange(G_MOD), self.dim_base)] + [
                gw for v, gw in self.dim_batches.items() if v <= version
            ]
        g = np.concatenate([p[0] for p in parts])
        w = np.concatenate([p[1] for p in parts])
        sel = w[g < g_below]
        return {"n": int(len(sel)), "s": int(sel.sum()) if len(sel) else None}


def setup(ctx, root: str, model: Model, versions: int = FACT_VERSIONS):
    from pyspark.sql import functions as F

    from mini_lakehouse_control_plane_executor_spark import LakehouseSession
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer
    from mini_lakehouse_control_plane_executor_spark.table.schema import Field

    spark = ctx.spark
    lake = LakehouseSession(spark, root)
    lake.create_table("fact", [Field("id", "int64", False), Field("g", "int64", False),
                               Field("amt", "int64", False)])

    def add_slice(i: int) -> None:
        # spark.range splits [lo, hi) into contiguous runs, one per file.
        lo = i * ROWS_PER_VERSION
        ids = spark.range(lo, lo + ROWS_PER_VERSION, numPartitions=FILES_PER_VERSION)
        version = lake.insert("fact", ids.select(
            "id",
            ((F.col("id") * model.a + model.b) % G_MOD).alias("g"),
            ((F.col("id") * model.c + model.d) % AMT_MOD).alias("amt"),
        ))
        model.fact_slices[version] = lo

    # Two writers at a time (their commits go through OCC); slices land in
    # commit order, which the model records.
    with ThreadPoolExecutor(SETUP_WRITERS) as pool:
        list(pool.map(add_slice, range(versions)))
    lake.create_table("dim", [Field("g", "int64", False), Field("name", "string", True),
                              Field("w", "int64", False)])
    rows = [(g, f"base-{g}", int(w)) for g, w in enumerate(model.dim_base)]
    model.dim_base_version = lake.insert(
        "dim", spark.createDataFrame(rows, "g long, name string, w long"))
    return lake, LakehouseRestServer(lake).start()


class Client:
    """One closed-loop load generator thread and its HTTP connection."""

    def __init__(self, idx, port, model, seed, log, ops, tracer, shared):
        self.idx = idx
        self.model = model
        self.rng = np.random.default_rng([seed, 1000 + idx])
        self.log = log
        self.ops = ops
        self.tracer = tracer
        self.shared = shared
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=REQUEST_TIMEOUT_S)
        self.cycle = client_cycle(idx)
        self.seq = 0
        self.op_id = None

    def request(self, method: str, path: str, body=None):
        req = f"{self.idx}-{next(self.shared['req_ids'])}"
        headers = {"X-Perfbench-Op": str(self.op_id), "X-Perfbench-Req": req}
        data = None
        if body is not None:
            data = json.dumps(body).encode()
            headers["Content-Type"] = "application/json"
        t0 = time.perf_counter()
        self.conn.request(method, path, body=data, headers=headers)
        resp = self.conn.getresponse()
        payload = json.loads(resp.read() or b"null")
        ms = (time.perf_counter() - t0) * 1000.0
        with self.shared["mu"]:
            self.shared["requests"].append((req, ms))
            if not 200 <= resp.status < 300:
                self.shared["non2xx"] += 1
        if not 200 <= resp.status < 300:
            raise _Non2xx(f"{method} {path} -> {resp.status}: {payload}")
        return payload

    def query(self, body: dict, want: dict) -> str | None:
        job = self.request("POST", "/queries", body)["job_id"]
        deadline = time.perf_counter() + REQUEST_TIMEOUT_S
        while True:
            status = self.request("GET", f"/queries/{job}")["status"]
            with self.shared["mu"]:
                self.shared["polls"] += 1
            if status not in ("PENDING", "RUNNING"):
                break
            if time.perf_counter() > deadline:
                return harness.TIMEOUT
            time.sleep(POLL_S)
        if self.tracer:
            self.shared["jobs"][self.op_id] = job
        if status != "COMPLETED":
            return f"{harness.EXCEPTION}: job {status}"
        rows = self.request("GET", f"/queries/{job}/results")["rows"]
        return None if rows == [want] else harness.WRONG_RESULT

    def op(self, kind: str) -> str | None:
        m, rng = self.model, self.rng
        latest = FACT_VERSIONS + 1
        if kind in ("hit", "hit_old"):
            version = latest if kind == "hit" else int(rng.integers(2, latest))
            slices = m.fact_visible(version)
            lo = slices[rng.integers(len(slices))] + int(
                rng.integers(0, ROWS_PER_VERSION - 2_000))
            hi = lo + 2_000
            body = {"table_name": "fact", "filter": f"id >= {lo} AND id < {hi}",
                    "version": version if kind == "hit_old" else None}
            want = m.fact_answer(version, lo, hi, None)
        elif kind == "miss":
            below = int(rng.integers(1_000, AMT_MOD))
            body = {"table_name": "fact", "filter": f"amt < {below}"}
            want = m.fact_answer(latest, 0, FACT_VERSIONS * ROWS_PER_VERSION, below)
        if kind in ("hit", "hit_old", "miss"):
            body["aggregates"] = [{"function": "count", "column": "*", "alias": "n"},
                                  {"function": "sum", "column": "amt", "alias": "s"}]
            return self.query(body, want)
        if kind == "sql":
            version, below = m.dim_pin(), int(rng.integers(10, G_MOD))
            got = self.request("POST", "/sql", {
                "sql": f"SELECT count(*) AS n, sum(w) AS s FROM dim WHERE g < {below}",
                "versions": {"dim": version},
            })["rows"]
            return None if got == [m.dim_answer(version, below)] else harness.WRONG_RESULT
        self.seq += 1
        g = rng.integers(0, G_MOD, DIM_INSERT_ROWS, dtype=np.int64)
        w = rng.integers(0, 1_000, DIM_INSERT_ROWS, dtype=np.int64)
        rows = [{"g": int(gi), "name": f"c{self.idx}-{self.seq}-{j}", "w": int(wi)}
                for j, (gi, wi) in enumerate(zip(g, w))]
        version = self.request("POST", "/tables/dim/insert", {"rows": rows})["new_version"]
        m.add_dim_batch(version, g, w)
        return None

    def loop(self, cycles: int) -> None:
        for _ in range(cycles):
            for kind in self.cycle:
                self.run_op(kind)

    def run_op(self, kind: str) -> None:
        self.op_id = next(self.shared["op_ids"])
        if self.tracer and kind in ("hit", "hit_old", "miss"):
            self.shared["prune_class"][self.op_id] = kind[:4]
        t0 = time.perf_counter()
        try:
            reason = self.op(kind)
        except _Non2xx:
            reason = harness.NON_2XX
        except TimeoutError:
            reason = harness.TIMEOUT
        except Exception as exc:  # an op failure is data, not a crash
            reason = f"{harness.EXCEPTION}: {type(exc).__name__}"
        ms = (time.perf_counter() - t0) * 1000.0
        self.ops[self.op_id] = self.log.record(kind, ms, reason, client=self.idx)
        if reason and reason != harness.WRONG_RESULT:
            # The connection may hold an unread reply; start afresh.
            self.conn.close()


class _Non2xx(Exception):
    pass


def run(ctx):
    from perfbench.workload import Result

    spark, tr = ctx.spark, ctx.tracer
    n_clients = len(os.sched_getaffinity(0))

    def build(rep):
        model = Model(ctx.seed)
        lake, server = setup(ctx, os.path.join(ctx.work, f"lake{rep}"), model)
        return model, lake, server

    def discard(state):
        state[2].stop()
        shutil.rmtree(state[1].root)

    # Warm the JIT on the set-up path with a smaller table first: without it
    # the first timed build runs cold (about twice as long) and the median
    # follows the JIT's progress.
    _, warm_server = setup(ctx, os.path.join(ctx.work, "warm"), Model(ctx.seed),
                           WARM_VERSIONS)
    warm_server.stop()
    (model, lake, server), setup_s = harness.repeat_setup(SETUP_REPEATS, build, discard)
    if tr:
        tracing.install_rest(tr, server, spark)
    dim_checkpoints = len(lake.table("dim").log.list_checkpoints())

    shared = {
        "mu": threading.Lock(), "req_ids": itertools.count(), "op_ids": itertools.count(1),
        "requests": [], "non2xx": 0, "polls": 0, "jobs": {}, "prune_class": {},
    }
    log, ops = harness.OpLog(), {}
    clients = [
        Client(i, server.port, model, ctx.seed, log, ops, tr, shared)
        for i in range(n_clients)
    ]
    if tr:
        tr.enabled = True
    # Fixed work: the same cycles every run, sized from --seconds.
    cycles = max(1, round(ctx.seconds / CYCLE_S))
    cpu0, t_start = harness.group_cpu_s(), time.perf_counter()
    threads = [threading.Thread(target=c.loop, args=(cycles,)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    cpu_s = harness.group_cpu_s() - cpu0
    if tr:
        tr.enabled = False
    for c in clients:
        c.conn.close()

    # Every acknowledged dim insert must be in the latest version.
    from pyspark.sql import functions as F

    latest_dim = lake.table("dim").log.latest_version()
    row = lake.table("dim").read().agg(F.count("*"), F.sum("w")).collect()[0]
    want = model.dim_answer(latest_dim, G_MOD)
    dim_ok = model.dim_pin() == latest_dim and (row[0], row[1]) == (want["n"], want["s"])
    server.stop()

    by_kind = {k: log.latencies(k) for k in KINDS}
    queries = by_kind["hit"] + by_kind["hit_old"] + by_kind["miss"]
    all_lat = log.latencies()
    def p(values, q):
        return harness.finite(harness.pct(values, q)), "ms"

    named = {
        "append_ms_p50": p(by_kind["insert"], 50),
        "query_ms_p50": p(queries, 50),
        "query_hit_ms_p50": p(by_kind["hit"], 50),
        "query_miss_ms_p50": p(by_kind["miss"], 50),
        "sql_ms_p50": p(by_kind["sql"], 50),
        "request_ms_p90": p(all_lat, 90),
    }
    report = {
        "clients": n_clients,
        "loop": "closed: each client waits for every reply before its next request",
        "status_poll_interval_s": POLL_S,
        "op_cycles": [client_cycle(c.idx) for c in clients],
        "cycles_per_client": cycles,
        "ops_per_client": [sum(op.client == c.idx for op in log.ops) for c in clients],
        "ops_by_kind": {k: len(v) for k, v in by_kind.items()},
        "op_ms_by_kind": {k: sorted(harness.finite(x) for x in v) for k, v in by_kind.items()},
        "request_samples": len(all_lat),
        "http_requests": len(shared["requests"]),
        "status_polls": shared["polls"],
        "non2xx": shared["non2xx"],
        "dim_final_check": dim_ok,
    }
    layer, op_counts = {}, []
    if tr:
        sc = spark.sparkContext
        job_tasks = []
        for op_id in ops:
            counts = tracing.spark_counts(sc, tracing.op_group(op_id))
            if op_id in shared["jobs"]:
                job = tracing.spark_counts(sc, shared["jobs"][op_id])
                job_tasks.append(job[2])
                counts = tuple(a + b for a, b in zip(counts, job))
            op_counts.append(counts)
        fact = lake.table("fact")
        layer = {
            "log.checkpoints_written": len(lake.table("dim").log.list_checkpoints())
            - dim_checkpoints,
            "table.live_files_end": len(fact.snapshot().files)
            + len(lake.table("dim").snapshot().files),
            "catalog.job.spark_tasks_p50": harness.median(job_tasks),
            "rest.status_polls_per_query": shared["polls"] / max(len(queries), 1),
            "rest.non2xx": shared["non2xx"],
            "rest.requests": shared["requests"],
        }
    return Result(setup_s, log, wall, cpu_s, correct=dim_ok, report=report, named=named,
                  layer=layer, op_counts=op_counts, prune_class=shared["prune_class"])
