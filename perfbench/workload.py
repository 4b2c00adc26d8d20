"""Child process of perfbench/run.py: runs one workload in this process and
its Spark JVM, then writes the result JSON that run.py prints."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object | None  # tracing.Tracer in a traced run


@dataclass
class Result:
    setup_s: list[tuple[float, float]]  # (wall, CPU) seconds per set-up build
    oplog: object  # harness.OpLog
    wall_s: float
    cpu_s: float  # CPU time of the workload's process group in the timed phase
    correct: bool
    report: dict = field(default_factory=dict)
    # The workload's own end-to-end metrics: name -> (value, unit).
    named: dict = field(default_factory=dict)
    # Per-layer values only the workload can compute (traced run).
    layer: dict = field(default_factory=dict)
    # (jobs, stages, tasks) per op (traced run).
    op_counts: list[tuple[int, int, int]] = field(default_factory=list)
    # op id -> "hit" | "miss" for queries whose filter should prune.
    prune_class: dict = field(default_factory=dict)


def load_spec(root: str) -> dict:
    """BENCHMARK.json: the declared workloads (with their rationale) and the
    end-to-end and per-layer metrics, with units, that a run must print."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    for name in ("--workload", "--root", "--work", "--out"):
        ap.add_argument(name, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    args = ap.parse_args()

    root = os.path.realpath(args.root)
    sys.path.insert(0, root)
    import mini_lakehouse_control_plane_executor_spark as pkg

    if not os.path.realpath(pkg.__file__).startswith(root + os.sep):
        raise SystemExit(f"package imported from {pkg.__file__}, not from {root}")
    from mini_lakehouse_control_plane_executor_spark.session import get_spark

    from perfbench import harness, tracing

    spec = load_spec(root)

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    jvm_start_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracer.enabled = False  # workloads enable it for the timed phase
        tracing.install(tracer, spark)
    ctx = Context(spark, args.seed, args.seconds, args.work, tracer)
    workload = importlib.import_module(f"perfbench.{args.workload}")
    res: Result = workload.run(ctx)
    rss_jvm_mb = harness.peak_rss_mb(jvm_pid)
    rss_py_mb = harness.peak_rss_mb(os.getpid())

    log = res.oplog
    ok_ops = log.attempted - log.failed
    lat = log.latencies()
    named = {
        "setup_s": (harness.median([c for _, c in res.setup_s]), "s"),
        "setup_wall_s": (harness.median([w for w, _ in res.setup_s]), "s"),
        "peak_rss_mb": (rss_jvm_mb + rss_py_mb, "MB"),
        "cpu_ms_per_op": (res.cpu_s * 1000.0 / log.attempted, "ms"),
        "ops_per_s": (ok_ops / res.wall_s, "1/s"),
        "op_ms_p50": (harness.finite(harness.pct(lat, 50)), "ms"),
        "op_ms_p90": (harness.finite(harness.pct(lat, 90)), "ms"),
        **res.named,
    }
    if tracer is None:
        specs = spec["end_to_end"]
        for m in specs:
            if named[m["name"]][1] != m["unit"]:
                raise ValueError(f"{m['name']} is computed in {named[m['name']][1]}, "
                                 f"declared in {m['unit']}")
        values = {n: v for n, (v, _) in named.items()}
    else:
        specs = spec["per_layer"]
        values = layer_values(tracer, res, [m["name"] for m in specs])
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.jsonl"))

    report = {
        "workload": args.workload,
        "why": next(w["why"] for w in spec["workloads"] if w["name"] == args.workload),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")),
        "jvm_start_s": jvm_start_s,
        "peak_rss_jvm_mb": rss_jvm_mb,
        "peak_rss_python_mb": rss_py_mb,
        "setup_runs_wall_cpu_s": res.setup_s,
        "timed_wall_s": res.wall_s,
        "timed_cpu_s": res.cpu_s,
        "attempted": log.attempted,
        "failed": log.failed,
        "failures": log.reasons(),
        "op_samples": len(lat),
        "end_to_end": {n: {"value": v, "unit": u} for n, (v, u) in named.items()},
        **res.report,
    }
    out = {
        "correct": bool(res.correct),
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in specs
        },
        "report": report,
    }
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


def layer_values(tr, res: Result, names: list[str]) -> dict[str, float]:
    """Per-layer metrics from the traced run's spans and counters; a declared
    metric of a layer the workload never calls reads 0."""
    from perfbench.harness import median
    from perfbench.tracing import REST_ROUTES, self_ms

    tr.resolve_ops()
    kids = tr.children()
    n_ops = max(res.oplog.attempted, 1)
    out = {name: 0.0 for name in names}

    def spans(name):
        return tr.named(name)

    def ms_p50(name):
        return median([s.ms for s in spans(name) if not s.error])

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    commits = spans("log.commit")
    latest = spans("log.latest_version")
    out["log.commit.ms_p50"] = ms_p50("log.commit")
    out["log.latest_version.calls_per_op"] = len(latest) / n_ops
    out["log.latest_version.ms_per_op"] = sum(s.ms for s in latest) / n_ops
    out["log.read_entry.calls_per_op"] = len(spans("log.read_entry")) / n_ops
    out["log.snapshot.ms_p50"] = ms_p50("log.snapshot")
    if commits:
        out["log.occ.commits_per_attempt"] = (
            sum(not s.error for s in commits) / len(commits)
        )

    inserts = spans("table.insert")
    out["table.insert.self_ms_p50"] = median(
        [self_ms(s, kids.get(s.id, [])) for s in inserts if not s.error]
    )
    reads = spans("table.read")

    def files_read(sp):
        # The prune child's kept count, else the snapshot child's file count.
        by_name = {k.name: k for k in kids.get(sp.id, [])}
        for name, key in (("filters.prune", "kept"), ("log.snapshot", "files")):
            if name in by_name and key in by_name[name].attrs:
                return by_name[name].attrs[key]
        return 0

    out["table.read.ms_p50"] = ms_p50("table.read")
    out["table.read.files_p50"] = median([files_read(s) for s in reads])
    out["table.plan.spark_jobs_per_read"] = mean(
        [s.attrs.get("spark_jobs", 0) for s in reads]
    )
    compacts = [s for s in spans("table.compact") if "bytes_written" in s.attrs]
    out["table.compact.ms_p50"] = median([s.ms for s in compacts])
    rewritten = sum(s.attrs["bytes_written"] for s in compacts)
    inserted = sum(s.attrs.get("bytes_written", 0) for s in inserts)
    out["table.compact.bytes_rewritten"] = rewritten
    if inserted:
        out["table.write_amp"] = (inserted + rewritten) / inserted

    prunes = spans("filters.prune")
    out["filters.prune.ms_p50"] = ms_p50("filters.prune")
    for cls in ("hit", "miss"):
        ratios = [
            s.attrs["kept"] / s.attrs["total"]
            for s in prunes
            if res.prune_class.get(s.op) == cls and s.attrs.get("total")
        ]
        out[f"filters.prune.kept_ratio.{cls}"] = mean(ratios)
    out["plan.apply_query.ms_p50"] = ms_p50("plan.apply_query")

    sqls = [s for s in spans("catalog.sql") if not s.error]
    out["catalog.sql.ms_p50"] = median([s.ms for s in sqls])
    out["catalog.sql.self_ms_p50"] = median([self_ms(s, kids.get(s.id, [])) for s in sqls])
    out["catalog.sql.views_built_per_call"] = mean(
        [sum(k.name == "table.read" for k in kids.get(s.id, [])) for s in sqls]
    )
    out["catalog.job.run_ms_p50"] = ms_p50("catalog.job.run")

    for route in REST_ROUTES:
        out[f"rest.handler.ms_p50.{route}"] = ms_p50(f"rest.{route}")
    handler_ms = {
        s.attrs["req"]: s.ms
        for route in REST_ROUTES
        for s in spans(f"rest.{route}")
        if s.attrs.get("req")
    }
    requests = res.layer.pop("rest.requests", [])
    out["rest.overhead_ms_p50"] = median(
        [ms - handler_ms[req] for req, ms in requests if req in handler_ms]
    )

    if res.op_counts:
        for i, what in enumerate(("jobs", "stages", "tasks")):
            out[f"spark.{what}_per_op"] = mean([c[i] for c in res.op_counts])
    out["trace.spans_per_op"] = len(tr.spans) / n_ops
    out["trace.overhead_ms_per_op"] = tr.overhead_s * 1000.0 / n_ops
    op_ms_total = sum(op.ms for op in res.oplog.ops)
    if op_ms_total:
        out["trace.overhead_pct"] = 100.0 * tr.overhead_s * 1000.0 / op_ms_total
    out["trace.ops_per_s"] = (res.oplog.attempted - res.oplog.failed) / res.wall_s

    unknown = set(res.layer) - set(out)
    if unknown:
        raise KeyError(f"workload reported undeclared metrics {sorted(unknown)}")
    out.update(res.layer)
    return out


if __name__ == "__main__":
    sys.exit(main())
