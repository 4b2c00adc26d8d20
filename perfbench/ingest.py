"""ingest: one writer appending seeded 1k-row batches in a closed loop.

Each op builds a batch with numpy (outside the timed region), hands it to
``LakehouseSession.insert`` through ``spark.createDataFrame`` and waits for
the commit. After every ``COMPACT_EVERY`` appends the next op is a
``LakehouseSession.compact`` call, which compacts only when the ShouldCompact
trigger fires. Set-up (an empty table and one 10k-row load) runs
``SETUP_REPEATS`` times; an untimed warm-up of ``WARM_APPENDS`` appends and
a compaction into another table follows, so that the JVM's JIT has compiled
the write path. The timed work is fixed: one round of 25 appends and a
compact call per ``ROUND_S`` of ``--seconds``. The workload never plans a
read, goes through REST or runs a library query; its output checks read
every version afterwards.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from mini_lakehouse_control_plane_executor_spark import LakehouseSession
from mini_lakehouse_control_plane_executor_spark.table.schema import Field
from perfbench import harness, tracing

TABLE = "events"
FIELDS = [Field("id", "int64", False), Field("k", "int64", False),
          Field("amt", "int64", False)]
BATCH_ROWS = 1000
BASE_BATCHES = 10  # the starting state holds one 10k-row load
COMPACT_EVERY = 25
ROUND_S = 12.0
SETUP_REPEATS = 7
WARM_APPENDS = 8


def batch(seed: int, i: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, i])
    return pd.DataFrame(
        {
            "id": np.arange(i * BATCH_ROWS, (i + 1) * BATCH_ROWS, dtype=np.int64),
            "k": rng.integers(0, 1000, BATCH_ROWS, dtype=np.int64),
            "amt": rng.integers(0, 100_000, BATCH_ROWS, dtype=np.int64),
        }
    )


def setup(ctx, root: str):
    lake = LakehouseSession(ctx.spark, root)
    lake.create_table(TABLE, FIELDS)
    base = pd.concat([batch(ctx.seed, i) for i in range(BASE_BATCHES)], ignore_index=True)
    version = lake.insert(TABLE, ctx.spark.createDataFrame(base))
    return lake, version, (len(base), int(base["amt"].sum()))


def run(ctx):
    from perfbench.workload import Result

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    # The set-up builds come first: each is an insert, so they also warm the
    # JIT on the write path. The first builds run cold; the median does not.
    (lake, version, base), setup_s = harness.repeat_setup(
        SETUP_REPEATS,
        lambda rep: setup(ctx, os.path.join(ctx.work, f"lake{rep}")),
        lambda state: shutil.rmtree(state[0].root),
    )
    # Then a few appends and a compaction into another table warm the
    # paths the timed ops take that set-up does not.
    t0 = time.perf_counter()
    warm = LakehouseSession(spark, os.path.join(ctx.work, "warm"))
    warm.create_table(TABLE, FIELDS)
    for i in range(WARM_APPENDS):
        warm.insert(TABLE, spark.createDataFrame(batch(ctx.seed + 1, i)))
    warm.compact(TABLE, force=True)
    warmup_s = time.perf_counter() - t0
    table = lake.table(TABLE)
    # version -> (rows, sum(amt)) the table must show there
    model = {1: (0, 0), version: base}
    op_at_version = {}
    log = harness.OpLog()
    op_counts = []
    checkpoints_before = len(table.log.list_checkpoints())
    compact_group = f"compaction-{TABLE}"

    if tr:
        tr.enabled = True
    i = BASE_BATCHES
    rounds = max(1, round(ctx.seconds / ROUND_S))
    cpu0, t_start = harness.group_cpu_s(), time.perf_counter()
    for n_ops in range(1, rounds * (COMPACT_EVERY + 1) + 1):
        compact = n_ops % (COMPACT_EVERY + 1) == 0
        pdf = None if compact else batch(ctx.seed, i)
        if tr:
            tr.op = n_ops
            sc.setJobGroup(tracing.op_group(n_ops), "perfbench", False)
            compact_jobs = tracing.spark_counts(sc, compact_group)
        t0 = time.perf_counter()
        try:
            if compact:
                new = lake.compact(TABLE)
            else:
                new = lake.insert(TABLE, spark.createDataFrame(pdf))
            reason = None
        except Exception as exc:  # an op failure is data, not a crash
            new, reason = None, f"{harness.EXCEPTION}: {type(exc).__name__}"
        ms = (time.perf_counter() - t0) * 1000.0
        op = log.record("compact" if compact else "append", ms, reason)
        if tr:
            counts = tracing.spark_counts(sc, tracing.op_group(n_ops))
            after = tracing.spark_counts(sc, compact_group)
            op_counts.append(
                tuple(c + a - b for c, a, b in zip(counts, after, compact_jobs))
            )
        if new is not None:
            prev = model[max(model)]
            if compact:
                model[new] = prev
            else:
                model[new] = (prev[0] + len(pdf), prev[1] + int(pdf["amt"].sum()))
                i += 1
            op_at_version[new] = op
    wall = time.perf_counter() - t_start
    cpu_s = harness.group_cpu_s() - cpu0
    if tr:
        tr.enabled = False

    t0 = time.perf_counter()
    wrong = check_versions(table, model)
    check_s = time.perf_counter() - t0
    for v in wrong:
        if v in op_at_version:
            op_at_version[v].reason = harness.WRONG_RESULT
    snap = table.snapshot()
    live_bytes = sum(f.size for f in snap.files)
    versions = table.log.latest_version()
    appends = log.latencies("append")
    named = {
        "append_ms_p50": (harness.finite(harness.pct(appends, 50)), "ms"),
        "append_ms_p90": (harness.finite(harness.pct(appends, 90)), "ms"),
        "stored_bytes_per_live_byte": (harness.dir_bytes(table.dir) / live_bytes, "ratio"),
    }
    report = {
        "warmup_s": warmup_s,
        "check_s": check_s,
        "append_samples": len(appends),
        "compactions": sum(1 for v, op in op_at_version.items() if op.kind == "compact"),
        "compact_calls": len(log.latencies("compact")),
        "versions_end": versions,
        "live_files_end": len(snap.files),
        "wrong_versions": sorted(wrong),
    }
    layer = {}
    if tr:
        layer = {
            "log.checkpoints_written": len(table.log.list_checkpoints()) - checkpoints_before,
            "table.live_files_end": len(snap.files),
        }
    return Result(setup_s, log, wall, cpu_s, correct=not wrong, report=report,
                  named=named, layer=layer, op_counts=op_counts)


def check_versions(table, model: dict[int, tuple[int, int]]) -> list[int]:
    """Versions whose row count or sum(amt) differs from the seeded batches.

    Every version is checked through the log's snapshot (its file list) and
    the files' contents; the base, the latest version and the versions on
    both sides of each compaction are also read back through Spark."""
    from pyspark.sql import functions as F

    file_sums: dict[str, tuple[int, int]] = {}

    def contents(f):
        if f.path not in file_sums:
            col = pq.read_table(os.path.join(table.dir, f.path), columns=["amt"])["amt"]
            file_sums[f.path] = (len(col), int(col.to_numpy().sum()))
        return file_sums[f.path]

    wrong = set()
    latest = table.log.latest_version()
    if latest != max(model):
        wrong.add(latest)
    for v, want in sorted(model.items()):
        got = [contents(f) for f in table.snapshot(v).files]
        if (sum(r for r, _ in got), sum(s for _, s in got)) != want:
            wrong.add(v)
    spark_checked = {min(model), max(model), min(model) + 1}
    for v in model:
        if model.get(v - 1) == model[v]:  # a compaction commit
            spark_checked |= {v - 1, v}
    for v in sorted(spark_checked & set(model)):
        if v == 1:
            continue
        row = table.read(version=v).agg(F.count("*"), F.sum("amt")).collect()[0]
        if (row[0], row[1] or 0) != model[v]:
            wrong.add(v)
    return sorted(wrong)
