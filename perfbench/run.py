#!/usr/bin/env python3
"""minilake layered benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {ingest,serve,library} --seed N \
        --seconds S --trace {0,1}

Run it from the repository root. The workload runs in a fresh child Python
process (and so a fresh Spark JVM) with its own scratch directory under
``.perfbench_work/``, which is removed afterwards. The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. A line starting ``perfbench-report`` before it carries the
workload's full report (seed, rationale, per-kind latencies, failures).

Exit codes: 0 when every output check passed, 1 when a check failed or an
operation failed, 2 when the benchmark could not run at all (no result line).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "serve", "library")
# The whole invocation must end within 180 s; leave room to reap and clean up.
CHILD_TIMEOUT_S = 150.0
PACKAGE = "mini_lakehouse_control_plane_executor_spark"
# Driver heap for the benchmark JVM, fixed at start (-Xms = -Xmx). The
# package default (48g, grown on demand) makes peak RSS follow GC timing and
# crowds a shared machine.
DRIVER_MEM = "1g"
# Keep the JIT compiler threads for the JVM's lifetime, so that
# harness.group_cpu_s can leave their CPU time out of cpu_ms_per_op; no
# hsperfdata file, which the JVM writes to the system temp directory
# whatever java.io.tmpdir says.
JVM_OPTIONS = (
    f"-Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData"
)


def _cpu_count() -> int:
    # What `nproc` reports without OMP_NUM_THREADS: the affinity mask.
    return len(os.sched_getaffinity(0))


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # Fields after the parenthesised command name: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _reap_group(pgid: int) -> None:
    """Stop every process left in the child's process group (the Spark JVM
    and its Python workers) and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline and _group_pids(pgid):
            time.sleep(0.05)
    left = _group_pids(pgid)
    if left:
        raise RuntimeError(f"processes {left} survived SIGKILL")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = [os.path.join(PACKAGE, "__init__.py"), "bench.py"]
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(
            f"perfbench: {root} is not a minilake checkout (missing {missing}); "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(root, ".perfbench_work", uuid.uuid4().hex[:12])
    for sub in ("tmp", "jtmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    out_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "child.log")
    env = dict(os.environ)
    env.update(
        {
            # Spark's Python workers import the package (UDFs, data source)
            # by module path, so the checkout root must be on their path.
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, env.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(_cpu_count()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_GRAFT_CONF_spark__ui__showConsoleProgress": "false",
            "SPARK_GRAFT_CONF_spark__driver__extraJavaOptions": (
                f"{JVM_OPTIONS} -Djava.io.tmpdir=" + os.path.join(work, "jtmp")
            ),
        }
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "workload.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", repr(args.seconds),
        "--trace", str(args.trace),
        "--root", root,
        "--work", work,
        "--out", out_path,
    ]
    rc: int | None = None
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(
                cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(
                    f"perfbench: {args.workload} exceeded {CHILD_TIMEOUT_S:.0f} s",
                    file=sys.stderr,
                )
            finally:
                _reap_group(proc.pid)
                proc.wait()
        result = None
        if rc == 0 and os.path.isfile(out_path):
            with open(out_path) as fh:
                result = json.load(fh)
        if result is None:
            with open(log_path, errors="replace") as fh:
                tail = fh.read()[-6000:]
            print(f"perfbench: workload child failed (rc={rc})\n{tail}", file=sys.stderr)
            return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print("perfbench-report " + json.dumps(result["report"], sort_keys=True))
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line))
    ok = result["correct"] and result["failed"] == 0
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
