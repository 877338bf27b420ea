"""Run context shared by the workloads: the pinned environment, the
per-run scratch directory, set-up timing and the small statistics the
workloads report."""

from __future__ import annotations

import json
import os
import shlex
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from tracing import GatewayCounter, Tracer

# Driver JVM heap cap. The engine's default (16g) is more than the machine
# this benchmark targets has, and the inputs need far less.
DRIVER_MEM = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(run_dir: str, trace: bool) -> None:
    """Environment for the engine, set before pyspark is imported: cores
    and driver memory of the session, and every scratch location of Spark,
    the JVM and Python inside ``run_dir``. With ``trace`` the session also
    writes Spark's event log there."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples) of the highest percentile with at
    least ten samples above it; with ten samples or fewer, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    idx = n - 11  # s[idx] has exactly ten samples above it
    return s[idx], 100.0 * (idx + 1) / n, n


@dataclass
class Ctx:
    """One benchmark run: arguments, scratch paths, the session, tracing
    state and the figures the workload fills in."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    tracer: Tracer
    spark: object = None
    gateway: GatewayCounter | None = None
    setup_s: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict[str, object] = field(default_factory=dict)
    window: tuple[float, float] = (0.0, 0.0)

    @property
    def cores(self) -> int:
        return cores()

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def setup(self, register: bool, warm: Callable[[], None]) -> None:
        """Start the session, register the ``cdc_binlog`` source (when the
        workload reads it) and run the workload's warm pass; the total is
        ``setup_s``."""
        from flink_cdc_connectors_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.layers["session.start_s"] = time.perf_counter() - t0
        if register:
            from flink_cdc_connectors_spark.sources import datasource

            with self.tracer.span("source.register"):
                datasource.register(self.spark)
        if self.trace:
            self.gateway = GatewayCounter(self.spark)
        with self.tracer.span("warm"):
            warm()
        self.setup_s = time.perf_counter() - t0

    @contextmanager
    def counting(self):
        """Counts py4j calls inside the block (traced runs only); yields a
        one-element list that holds the count afterwards."""
        out = [0]
        if self.gateway is None:
            yield out
            return
        with self.gateway as g:
            before = g.calls
            try:
                yield out
            finally:
                out[0] = g.calls - before

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; a wrong result is a failed one."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def progress_dicts(query) -> list[dict]:
    """The query's micro-batch progress records as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


# latestOffset is left out: Spark reports it in whole milliseconds and it
# takes about one, so the source probe times the call itself instead
_STREAM_PHASES = {
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
}


def stream_layers(batches: list[dict]) -> dict[str, float]:
    """Per-phase means of non-empty micro-batches (Spark reports whole
    milliseconds; a mean keeps the digits a median of them would drop)."""
    return {
        name: statistics.fmean([b["durationMs"].get(phase, 0) for b in batches])
        for name, phase in _STREAM_PHASES.items()
    }


def trace_batches(tracer: Tracer, batches: list[dict], parent: int | None) -> None:
    """Micro-batch intervals from ``StreamingQueryProgress`` as spans."""
    from datetime import datetime

    for b in batches:
        start = datetime.fromisoformat(b["timestamp"].replace("Z", "+00:00")).timestamp()
        total = b["durationMs"].get("triggerExecution", 0) / 1000
        tracer.add("stream.batch", start, start + total, parent, batch=b["batchId"],
                   rows=b["numInputRows"])
