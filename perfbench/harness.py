"""Pieces every workload shares: op accounting, percentiles, peak RSS."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

# Failure reasons the report distinguishes.
EXCEPTION = "exception"
NON_2XX = "non_2xx"
TIMEOUT = "timeout"
WRONG_RESULT = "wrong_result"


@dataclass
class Op:
    kind: str
    ms: float
    reason: str | None = None  # None = completed and correct
    client: int | None = None


@dataclass
class OpLog:
    """Every op attempted in the timed phase, failed ones included."""

    ops: list[Op] = field(default_factory=list)
    _mu: threading.Lock = field(default_factory=threading.Lock)

    def record(self, kind: str, ms: float, reason: str | None = None,
               client: int | None = None) -> Op:
        op = Op(kind, ms, reason, client)
        with self._mu:
            self.ops.append(op)
        return op

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(op.reason is not None for op in self.ops)

    def reasons(self) -> dict[str, int]:
        return dict(Counter(op.reason for op in self.ops if op.reason))

    def latencies(self, kind: str | None = None) -> list[float]:
        """Latencies in ms; a failed or wrong op counts as missing every
        latency limit, so it enters the sample as +inf."""
        return [
            math.inf if op.reason else op.ms
            for op in self.ops
            if kind is None or op.kind == kind
        ]


def repeat_setup(repeats: int, build, discard):
    """Build a workload's starting state ``repeats`` times, measuring each
    build, and keep the last; ``discard`` removes each earlier one. Returns
    (state, [(wall seconds, process-group CPU seconds) per build])."""
    times = []
    for rep in range(repeats):
        cpu0, t0 = group_cpu_s(), time.perf_counter()
        state = build(rep)
        times.append((time.perf_counter() - t0, group_cpu_s() - cpu0))
        if rep < repeats - 1:
            discard(state)
    return state, times


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for an empty sample."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100.0 * len(ordered)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def finite(x: float) -> float:
    """JSON has no infinity: an all-failed percentile prints as 1e12."""
    return x if math.isfinite(x) else 1e12


def peak_rss_mb(pid: int) -> float:
    """The process's peak resident set (VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks(stat_path: str) -> tuple[str, list[int]] | None:
    """(command name, [pgrp, utime, stime, cutime, cstime]) from a
    /proc stat file, or None if the process or thread has ended."""
    try:
        with open(stat_path) as fh:
            stat = fh.read()
    except OSError:
        return None
    name, rest = stat[stat.index("(") + 1: stat.rindex(")")], stat.rsplit(")", 1)[1].split()
    # After the name: state ppid pgrp ...; utime stime cutime cstime at 11..14.
    return name, [int(rest[2])] + [int(x) for x in rest[11:15]]


def group_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    this process group: the workload process, its Spark JVM and the JVM's
    Python workers. Unlike wall time, it does not count time the machine
    gave to other tenants. The JVM's JIT compiler threads are left out:
    their work is warm-up whose amount and timing vary from run to run
    (run.py keeps them alive for the whole run, so none of their time is
    lost when one exits). This process's own time comes from its CPU clock,
    which, unlike /proc's 10 ms ticks, resolves a set-up that takes a
    tenth of a second."""
    pgid, me, ticks = os.getpgrp(), os.getpid(), 0
    for entry in os.listdir("/proc"):
        proc = _cpu_ticks(f"/proc/{entry}/stat") if entry.isdigit() else None
        if not proc or proc[1][0] != pgid:
            continue
        if int(entry) == me:
            ticks += proc[1][3] + proc[1][4]  # reaped children only
            continue
        ticks += sum(proc[1][1:])
        try:
            tids = os.listdir(f"/proc/{entry}/task")
        except OSError:
            continue
        for tid in tids:
            thread = _cpu_ticks(f"/proc/{entry}/task/{tid}/stat")
            if thread and "CompilerThre" in thread[0]:
                ticks -= thread[1][1] + thread[1][2]
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
