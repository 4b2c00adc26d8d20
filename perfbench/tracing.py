"""Span recorders wrapped around minilake's public functions, from outside.

Nothing here edits the package: ``install`` replaces class and module
attributes in the benchmark's own process with wrappers that record a span
per call (name, start, end, parent span, the op that caused it) and then call
the original. Spans stay in memory; ``dump`` writes them out as JSON lines
when the run ends. Time spent in the wrappers themselves is accumulated in
``Tracer.overhead_s``.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
from contextlib import contextmanager
from time import perf_counter

# The LakehouseRestServer route handlers the serve workload calls; each gets
# a span and a rest.handler.ms_p50.<route> metric.
REST_ROUTES = [
    "execute_query_async",
    "query_status",
    "query_results",
    "execute_sql",
    "insert_rows",
]


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "attrs", "error")

    def __init__(self, sid: int, name: str, parent: int | None, op):
        self.id = sid
        self.name = name
        self.parent = parent
        self.op = op
        self.start = self.end = 0.0
        self.attrs: dict = {}
        self.error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "op": self.op, "start": self.start, "end": self.end,
            "attrs": self.attrs, "error": self.error,
        }


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = True
        self.overhead_s = 0.0
        # async job id -> op id, filled when submit_async returns; spans on
        # the job's own thread carry "job:<id>" until ``resolve_ops``.
        self.job_ops: dict[str, object] = {}
        self._tls = threading.local()
        self._mu = threading.Lock()
        self._ids = itertools.count(1)

    # -- per-thread context ------------------------------------------------

    @property
    def op(self):
        return getattr(self._tls, "op", None)

    @op.setter
    def op(self, value) -> None:
        self._tls.op = value

    def _stack(self) -> list[Span]:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    # -- recording -----------------------------------------------------------

    def call(self, name, fn, args, kwargs, before=None, after=None):
        """``fn(*args, **kwargs)`` inside a span; ``before(args, kwargs)``
        and ``after(span, before's result, args, kwargs, result)`` hooks run
        around it and count as tracing overhead."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = perf_counter()
        ctx = before(args, kwargs) if before else None
        self.add_overhead(perf_counter() - t0)
        with self.span(name) as sp:
            out = fn(*args, **kwargs)
        if after:
            t0 = perf_counter()
            after(sp, ctx, args, kwargs, out)
            self.add_overhead(perf_counter() - t0)
        return out

    def _finish(self, sp: Span, t_in: float) -> None:
        t_out = perf_counter()
        with self._mu:
            self.spans.append(sp)
            self.overhead_s += (sp.start - t_in) + (t_out - sp.end)

    @contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        if not self.enabled:
            yield None
            return
        t_in = perf_counter()
        stack = self._stack()
        sp = Span(next(self._ids), name, stack[-1].id if stack else None, self.op)
        stack.append(sp)
        sp.start = perf_counter()
        try:
            yield sp
        except BaseException as exc:
            sp.error = type(exc).__name__
            raise
        finally:
            sp.end = perf_counter()
            stack.pop()
            self._finish(sp, t_in)

    def add_overhead(self, seconds: float) -> None:
        with self._mu:
            self.overhead_s += seconds

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, fn, args, kwargs, before, after)

        setattr(owner, attr, traced)

    # -- analysis ------------------------------------------------------------

    def resolve_ops(self) -> None:
        for sp in self.spans:
            if isinstance(sp.op, str) and sp.op.startswith("job:"):
                sp.op = self.job_ops.get(sp.op[4:], sp.op)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def named(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(sp.to_json()) + "\n")


def self_ms(sp: Span, kids: list[Span]) -> float:
    """Duration minus the part of [start, end] covered by child spans."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted(
        (max(k.start, sp.start), min(k.end, sp.end)) for k in kids if k.end > sp.start
    ):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return sp.ms - covered * 1000.0


def op_group(op) -> str:
    """The Spark job group the benchmark sets for one op."""
    return f"perfbench-op-{op}"


def spark_counts(sc, group) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group) or []
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            st = tracker.getStageInfo(sid)
            if st:
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks


def install(tracer: Tracer, spark) -> None:
    """Wrap the table, filter, plan and catalog entry points."""
    from mini_lakehouse_control_plane_executor_spark.functions import filters
    from mini_lakehouse_control_plane_executor_spark.table import catalog
    from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession
    from mini_lakehouse_control_plane_executor_spark.table.log import TransactionLog
    from mini_lakehouse_control_plane_executor_spark.table.table import LakehouseTable

    sc = spark.sparkContext
    read_entry = TransactionLog.read_entry

    for attr in ("commit", "latest_version", "read_entry", "find_txn"):
        tracer.wrap(TransactionLog, attr, f"log.{attr}")

    def after_snapshot(sp, ctx, args, kwargs, out):
        sp.attrs["files"] = len(out.files)

    tracer.wrap(TransactionLog, "snapshot", "log.snapshot", after=after_snapshot)

    def written_bytes(table, version) -> int:
        return sum(a.size for a in read_entry(table.log, version).adds)

    def after_write(sp, ctx, args, kwargs, out):
        if out is not None:
            sp.attrs["bytes_written"] = written_bytes(args[0], out)

    tracer.wrap(LakehouseTable, "insert", "table.insert", after=after_write)
    tracer.wrap(LakehouseTable, "compact", "table.compact", after=after_write)

    def before_read(args, kwargs):
        group = sc.getLocalProperty("spark.jobGroup.id")
        return group, set(sc.statusTracker().getJobIdsForGroup(group) or [])

    def after_read(sp, ctx, args, kwargs, out):
        group, jobs_before = ctx
        jobs = set(sc.statusTracker().getJobIdsForGroup(group) or [])
        sp.attrs["spark_jobs"] = len(jobs - jobs_before)

    tracer.wrap(LakehouseTable, "read", "table.read", before=before_read, after=after_read)

    def after_prune(sp, ctx, args, kwargs, out):
        sp.attrs["kept"] = len(out)
        sp.attrs["total"] = len(args[0])

    tracer.wrap(filters, "prune_files", "filters.prune", after=after_prune)
    tracer.wrap(catalog, "apply_query", "plan.apply_query")
    for attr in ("sql", "query"):
        tracer.wrap(LakehouseSession, attr, f"catalog.{attr}")

    def after_submit(sp, ctx, args, kwargs, out):
        tracer.job_ops[out] = sp.op

    tracer.wrap(LakehouseSession, "submit_async", "catalog.submit_async", after=after_submit)

    def before_job(args, kwargs):
        # _run_job(self, job_id, q) runs on a thread submit_async started.
        tracer.op = f"job:{args[1]}"

    tracer.wrap(LakehouseSession, "_run_job", "catalog.job.run", before=before_job)


def install_rest(tracer: Tracer, server, spark) -> None:
    """Wrap the REST route handlers the serve workload calls, and read the
    op and request ids the load generator sends as headers."""
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    sc = spark.sparkContext

    def after_route(sp, ctx, args, kwargs, out):
        sp.attrs["req"] = getattr(tracer._tls, "req", None)

    for route in REST_ROUTES:
        tracer.wrap(
            LakehouseRestServer, route, f"rest.{route}",
            after=after_route,
        )

    handler_cls = server.httpd.RequestHandlerClass
    dispatch = handler_cls._dispatch

    @functools.wraps(dispatch)
    def traced_dispatch(self, method):
        if not tracer.enabled:
            return dispatch(self, method)
        t0 = perf_counter()
        op = self.headers.get("X-Perfbench-Op")
        tracer.op = int(op) if op else None
        tracer._tls.req = self.headers.get("X-Perfbench-Req")
        if op:
            # Spark jobs this request runs on the handler thread are
            # counted per op through a job group.
            sc.setJobGroup(op_group(op), "perfbench", False)
        tracer.add_overhead(perf_counter() - t0)
        return dispatch(self, method)

    handler_cls._dispatch = traced_dispatch
