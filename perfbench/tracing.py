"""Measurement helpers of the benchmark: spans, py4j call counting, the
process-tree memory sampler, JVM MXBean readings and the Spark event log.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the engine, the py4j counter wraps the gateway
client object of the running session, and the JVM and executor figures
come from Spark's MXBeans and event log.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id) around calls into
    the engine's layers. Disabled tracers record nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record an interval measured elsewhere (a micro-batch's phases
        from ``StreamingQueryProgress``)."""
        if self.enabled:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "run": self.run_id, "start": start, "end": end, **attrs}
            )

    def self_times(self) -> dict[str, float]:
        """Seconds of each span name not covered by its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), **extra}, f)


class GatewayCounter:
    """Counts py4j round trips of the session's gateway client while
    enabled: ``send_command`` is shadowed on the client instance (not the
    class), so the count is exact and removing the shadow restores it."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._lock = threading.Lock()
        self.calls = 0

    def __enter__(self) -> "GatewayCounter":
        orig = type(self._client).send_command.__get__(self._client)

        def counted(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        del self._client.send_command


def _pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each shared
    page divided among the processes that map it, so a tree's sum counts
    the pages a forked worker shares with its parent once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_pss_bytes(root: int) -> tuple[int, int]:
    """PSS of the whole process tree under ``root`` and, of that, of the
    Python workers (the descendants of the JVM that ``root`` starts),
    from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    depth, frontier = {root: 0}, [root]
    while frontier:
        p = frontier.pop()
        for pid, ppid in parent.items():
            if ppid == p and pid not in depth:
                depth[pid] = depth[p] + 1
                frontier.append(pid)
    total = workers = 0
    for pid, d in depth.items():
        try:
            pss = _pss_bytes(pid)
        except OSError:  # the process ended since the scan
            continue
        total += pss
        if d > 1:
            workers += pss
    return total, workers


MEM_INTERVAL_S = 0.2


class MemSampler:
    """Background thread sampling the PSS of this process tree every
    ``MEM_INTERVAL_S``: the peak of the whole tree (this process, the
    Spark driver's JVM and the Python workers it forks) and, apart, the
    peak of the workers alone."""

    def __init__(self) -> None:
        self.peak = self.workers_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            total, workers = _tree_pss_bytes(os.getpid())
            self.peak = max(self.peak, total)
            self.workers_peak = max(self.workers_peak, workers)
            if self._stop.wait(MEM_INTERVAL_S):
                return

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class JvmProbe:
    """GC time and heap-pool peaks of the Spark driver's JVM, via its
    MXBeans."""

    def __init__(self, spark) -> None:
        self._mf = spark._jvm.java.lang.management.ManagementFactory

    def gc_ms(self) -> int:
        return sum(int(b.getCollectionTime()) for b in self._mf.getGarbageCollectorMXBeans())

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if str(p.getType()) == "Heap memory"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(int(p.getPeakUsage().getUsed()) for p in self._heap_pools()) / 2**20


def event_log_totals(log_dir: str, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Jobs, tasks, shuffle bytes and core utilisation in ``[t0, t1]``
    (epoch seconds) from the Spark event log files under ``log_dir``.
    Core utilisation is executor CPU time of the tasks over wall time
    times cores; the Python workers' own CPU is not in it."""
    lo_ms, hi_ms = t0 * 1000, t1 * 1000
    jobs = tasks = shuffle = 0
    cpu_ns = 0
    for dirpath, _, files in os.walk(log_dir):
        for name in files:
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        if lo_ms <= ev.get("Submission Time", 0) <= hi_ms:
                            jobs += 1
                    elif kind == "SparkListenerTaskEnd":
                        info = ev.get("Task Info", {})
                        if not lo_ms <= info.get("Finish Time", 0) <= hi_ms:
                            continue
                        tasks += 1
                        m = ev.get("Task Metrics") or {}
                        cpu_ns += m.get("Executor CPU Time", 0)
                        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        )
    return {
        "exec.jobs": jobs,
        "exec.tasks": tasks,
        "exec.shuffle_write_bytes": shuffle,
        "exec.core_util": cpu_ns / 1e9 / max((t1 - t0) * cores, 1e-9),
    }
