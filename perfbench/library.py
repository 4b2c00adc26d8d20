"""library: bench.py's headline queries over seeded TPC-H-like parquet.

Set-up writes the input tables (``datagen``). An untimed first pass runs
every query once, collects its rows and compares them with the query's
DuckDB oracle from ``queries.all_oracles()`` under the comparison rule of
tests/test_oracle_parity.py; it also warms planning and code generation.
Timed passes then force each query with a noop write, clearing Spark's
cache between queries: one pass per ``PASS_S`` of ``--seconds``.
The seed sets the input data and the query order. The workload never touches
the table layer.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import duckdb
import numpy as np
import pandas as pd

from perfbench import datagen, harness, tracing

SETUP_REPEATS = 9
PASS_S = 12.0  # about one timed pass on 4 CPUs
# The query set: every fifth entry of bench.py's HEADLINE list, so that a
# check pass plus the timed passes fit one run. BENCHMARK.json declares a
# library.<query>.s metric for each.
LIBRARY_STRIDE = 5


def _family(series: pd.Series) -> str:
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind in "fbM":
        return {"f": "float", "b": "bool", "M": "datetime"}[kind]
    if kind == "O":
        values = series.dropna()
        if values.empty:
            return "empty"
        return {bool: "bool", str: "str", int: "int", float: "float"}.get(
            type(values.iloc[0]), "other"
        )
    return "other"


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when Spark's rows match the oracle's, else what differs: same
    column names and row count, per-column dtype family (int and float mix
    only where the float side holds NaN), then values after sorting columns
    and rows, to 1e-9 absolute."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    cols = sorted(got.columns)
    got = got[cols].sort_values(by=cols, ignore_index=True)
    want = want[cols].sort_values(by=cols, ignore_index=True)
    for col in cols:
        fams = {_family(got[col]), _family(want[col])}
        if len(fams) == 2 and "empty" not in fams:
            floaty = got[col] if _family(got[col]) == "float" else want[col]
            if fams != {"int", "float"} or not floaty.isna().any():
                return f"{col}: dtype family {sorted(fams)}"
    try:
        pd.testing.assert_frame_equal(
            got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )
    except AssertionError as exc:
        return str(exc).splitlines()[0][:300]
    return None


def check_pass(spark, registry, oracles, order, data: str) -> dict[str, str]:
    """Each query against its oracle; returns {query: problem}."""
    duck = duckdb.connect()
    try:
        for table in datagen.tables_written(data):
            duck.execute(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data, table)}.parquet')"
            )
        problems = {}
        for q in order:
            try:
                got = registry[q](spark, data).toPandas()
                problem = compare(got, duck.execute(oracles[q]).fetchdf())
            except Exception as exc:  # a failing query is a finding, not a crash
                problem = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                spark.catalog.clearCache()
            if problem:
                problems[q] = problem
        return problems
    finally:
        duck.close()


def run(ctx):
    from bench import HEADLINE
    from mini_lakehouse_control_plane_executor_spark import queries as qlib
    from perfbench.workload import Result

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    names = HEADLINE[::LIBRARY_STRIDE]
    registry, oracles = qlib.all_queries(), qlib.all_oracles()

    data, setup_s = harness.repeat_setup(
        SETUP_REPEATS,
        lambda rep: datagen.write(os.path.join(ctx.work, f"data{rep}"), ctx.seed),
        shutil.rmtree,
    )
    order = [names[i] for i in np.random.default_rng([ctx.seed, 3]).permutation(len(names))]

    t0 = time.perf_counter()
    problems = check_pass(spark, registry, oracles, order, data)
    check_s = time.perf_counter() - t0

    log = harness.OpLog()
    times: dict[str, list[float]] = {q: [] for q in order}
    plan_s, pass_s, op_counts = [], [], []
    if tr:
        tr.enabled = True
    cpu0, t_start = harness.group_cpu_s(), time.perf_counter()
    op_id = 0
    # Fixed work: one pass per PASS_S of --seconds, whatever the speed, so
    # that warmer extra passes never change what a run measures.
    for _ in range(max(1, round(ctx.seconds / PASS_S))):
        pass_plan = pass_total = 0.0
        for q in order:
            op_id += 1
            if tr:
                tr.op = op_id
                sc.setJobGroup(tracing.op_group(op_id), "perfbench", False)
            t0 = time.perf_counter()
            reason = problems.get(q) and harness.WRONG_RESULT
            try:
                with tr.span("library.query") if tr else nullcontext():
                    df = registry[q](spark, data)
                t1 = time.perf_counter()
                with tr.span("library.noop_write") if tr else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # an op failure is data, not a crash
                t1 = t0
                reason = f"{harness.EXCEPTION}: {type(exc).__name__}"
            elapsed = time.perf_counter() - t0
            spark.catalog.clearCache()
            log.record(q, elapsed * 1000.0, reason)
            times[q].append(elapsed)
            pass_plan += t1 - t0
            pass_total += elapsed
            if tr:
                op_counts.append(tracing.spark_counts(sc, tracing.op_group(op_id)))
        plan_s.append(pass_plan)
        pass_s.append(pass_total)
    wall = time.perf_counter() - t_start
    cpu_s = harness.group_cpu_s() - cpu0
    if tr:
        tr.enabled = False

    named = {"library_s": (harness.median(pass_s), "s")}
    report = {
        "passes": len(pass_s),
        "check_pass_s": check_s,
        "query_order": order,
        "queries_s": {q: harness.median(t) for q, t in times.items()},
        "oracle_mismatches": problems,
    }
    layer = {}
    if tr:
        layer = {f"library.{q}.s": harness.median(t) for q, t in times.items()}
        layer["library.plan_s"] = harness.median(plan_s)
        layer["library.spark_tasks"] = sum(c[2] for c in op_counts) / len(pass_s)
    return Result(setup_s, log, wall, cpu_s, correct=not problems, report=report,
                  named=named, layer=layer, op_counts=op_counts)

