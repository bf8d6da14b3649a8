"""Outside-in collectors: process-tree RSS and CPU from /proc, Spark's
own `recentProgress`, sink commit times, and in-memory spans.

Nothing here patches `sparkfp`: the sink is timed by wrapping the
instance handed to `foreachBatch`, and every other number comes from
the operating system or from Spark's progress reports.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and all its live descendants: the driver JVM and the
    Python workers are children of the benchmark process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f and f[0] != "Z":
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of the process tree, shared pages counted once:
    the sum of each process' proportional set size (Pss). Summing plain
    RSS would count the pages forked Python workers share many times."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the live process tree, with the
    reaped children of each (Python workers that already exited)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor took between two
    `cpu_ticks` readings: wall-clock figures slow down by about this."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory (`tree_rss_mb`) every
    `period_s` and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._halt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._halt.wait(self.period_s)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


class TimedSink:
    """Wraps a sink instance for `foreachBatch`; records each batch's
    commit start and end on the `perf_counter` clock."""

    def __init__(self, sink):
        self.sink = sink
        self.commits: dict[int, tuple[float, float]] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.sink(batch_df, batch_id)
        self.commits[batch_id] = (t0, time.perf_counter())


def batches(query) -> list[dict]:
    """One flat row per micro-batch from `recentProgress`: input rows,
    every `durationMs` phase and the summed `stateOperators` fields."""
    out = []
    for p in query.recentProgress:
        p = json.loads(p.json)
        ops = p.get("stateOperators", [])
        out.append(
            {
                "batch_id": p["batchId"],
                "rows": int(p.get("numInputRows") or 0),
                **{f"ms.{k}": v for k, v in p.get("durationMs", {}).items()},
                "state.rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "state.memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                "state.commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "state.rows_dropped_by_watermark": sum(
                    o.get("numRowsDroppedByWatermark", 0) for o in ops
                ),
            }
        )
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return float(xs[k])


class Tracer:
    """In-memory spans (name, start, end, parent), written once at exit.

    A disabled tracer records nothing. `self_s` is the time spent
    recording spans, the tracing overhead.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.self_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name,
             "parent": self._stack[-1] if self._stack else None, **attrs}
        )
        self._stack.append(sid)
        self.self_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid].update(start=start, end=end)
            self.self_s += time.perf_counter() - end

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# Fixed FFT work in a fresh interpreter: warm up, report ready, wait for
# the go line, then print the seconds the work took.
_BURN = """
import sys, time
import numpy as np
x = np.random.default_rng(0).standard_normal(1 << 16)
for _ in range(20):
    np.fft.rfft(x)
print("ready", flush=True)
sys.stdin.readline()
t = time.perf_counter()
for _ in range(80):
    np.fft.rfft(x)
print(time.perf_counter() - t, flush=True)
"""


def _burn(procs: int) -> float:
    """Wall seconds of the FFT work run in `procs` processes at once."""
    ps = [
        subprocess.Popen([sys.executable, "-c", _BURN], stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(procs)
    ]
    for p in ps:
        p.stdout.readline()
    for p in ps:
        p.stdin.write("go\n")
        p.stdin.flush()
    return max(float(p.communicate()[0]) for p in ps)


def ambient_probe(procs: int) -> dict:
    """Window quality: the same FFT work alone and in `procs` processes
    at once (never more than the cores the run uses). On a quiet machine
    the two times match; a ratio well above 1 marks a contended window."""
    one, many = _burn(1), _burn(procs)
    return {"burn_1p_s": one, f"burn_{procs}p_s": many, "ratio": many / one}
