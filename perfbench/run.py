"""CDC engine benchmark: seeded inputs, two workloads, a correctness gate
against DuckDB references, and one JSON result line.

Run from the root of a checkout::

    python3 perfbench/run.py --workload binlog_apply --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``binlog_apply`` (capped micro-batches
of a Zipf-skewed log through the stateful latest-state materialization,
then a fixed read of that state) and ``changelog_sql`` (one closed-loop
client over twelve CDC registry keys). The snapshot path is measured by a
probe of the traced run (``probes.py``).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (Spark event log, py4j call counts, spans and direct layer probes;
the spans are written to ``.perfbench_traces/``). Lines before the last
describe the inputs, the workload's metrics under their own names and the
failed-operation ratio; the last line is the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

The exit code is 0 when every output matched its reference, 1 when one
did not, 2 when the run could not be made. Each run works in a scratch
directory under ``.perfbench_run/`` that it removes when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import Ctx, pin_env  # noqa: E402
from layers import END_TO_END, PER_LAYER, WORKLOAD_NAMES, WORKLOADS  # noqa: E402
from tracing import JvmProbe, MemSampler, Tracer, event_log_totals  # noqa: E402

ENGINE = "flink_cdc_connectors_spark"


def _stop_engine(spark) -> None:
    """Stop the session, then the JVM (which takes its Python workers
    with it), and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _measure(args, root: str, run_dir: str) -> Ctx:
    import probes
    from workloads import WORKLOADS as IMPLS

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", args.trace)
    ctx = Ctx(args.workload, args.seed, args.seconds, args.trace, run_dir, tracer)
    wl = IMPLS[args.workload]()
    wl.prepare(ctx)
    try:
        with MemSampler() as mem:
            ctx.setup(wl.register, lambda: wl.warm(ctx))
            jvm = JvmProbe(ctx.spark) if args.trace else None
            if jvm:
                gc0 = jvm.gc_ms()
                jvm.reset_heap_peak()
            wl.window(ctx)
            if jvm:
                ctx.layers["jvm.gc_ms"] = jvm.gc_ms() - gc0
                ctx.layers["jvm.heap_peak_mb"] = jvm.heap_peak_mb()
        ctx.e2e["setup_s"] = ctx.setup_s
        ctx.e2e["peak_pss_mb"] = mem.peak / 2**20
        ctx.layers["exec.python_workers_pss_mb"] = mem.workers_peak / 2**20
        wl.verify(ctx)
        if args.trace:
            probes.run_probes(ctx)
    finally:
        if ctx.spark is not None:
            _stop_engine(ctx.spark)
    if args.trace:
        ctx.layers.update(
            event_log_totals(ctx.path("eventlog"), *ctx.window, ctx.cores)
        )
        for name, value in ctx.e2e.items():
            ctx.layers[f"traced.{name}"] = value
        tracer.write(
            os.path.join(root, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"),
            {"layers": ctx.layers, "e2e": ctx.e2e},
        )
    return ctx


def _report(args, ctx: Ctx) -> dict:
    failed = len(ctx.failures)
    named = {WORKLOAD_NAMES[args.workload].get(k, k): v for k, v in ctx.e2e.items()}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "inputs": ctx.info.pop("inputs")}))
    print(json.dumps({"metrics": named, **ctx.info,
                      "failed_op_ratio": {"value": failed / max(ctx.attempted, 1),
                                          "failed": failed, "attempted": ctx.attempted}}))
    if args.trace:
        print(json.dumps({"layer_map": {
            name: {"moves": spec[2], "workload": spec[3]} for name, spec in PER_LAYER.items()
        }}))
        print(json.dumps({"self_s": ctx.tracer.self_times()}))
        metrics = {n: {"value": ctx.layers[n], "unit": PER_LAYER[n][0]} for n in PER_LAYER}
    else:
        metrics = {n: {"value": ctx.e2e[n], "unit": END_TO_END[n][0]} for n in END_TO_END}
    for what in ctx.failures:
        print(f"perfbench: wrong result: {what}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": ctx.attempted, "failed": failed,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="CDC engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ here; run from the checkout root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    scratch = os.path.join(root, ".perfbench_run")
    run_dir = os.path.join(scratch, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    pin_env(run_dir, bool(args.trace))
    # a terminated run still stops the engine and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        ctx = _measure(args, root, run_dir)
        result = _report(args, ctx)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(scratch) and not os.listdir(scratch):
            os.rmdir(scratch)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
