"""Layer probes of the traced run, made after the timed window. Each
probe generates its own input from the seed, the same on every workload,
so a probe's figures mean the same whichever workload ran it:

- two initial-mode snapshot loads of a uniform-key log into a parquet
  sink, checked against the DuckDB replay (``snapshot.rows_per_s``);
- the ``cdc_binlog`` reader driven in-process on that same log, without
  Spark: open, plan, then drain ``read()`` Arrow batches of every
  partition (``source.*``), so the gap to ``snapshot.rows_per_s`` is the
  cost of the transfer to Spark and of the sink;
- ``operators.cdc`` and the Debezium envelope codec called directly on the
  ``changelog_sql`` workload's events, each executed once into the noop
  sink;
- for workloads without a stateful stream, a short
  ``materialize_latest_state`` drain, so the state and store layers are
  measured on every workload.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle
from common import Ctx, progress_dicts, stream_layers, trace_batches
from workloads import (
    APPLY_CAP,
    APPLY_KEYS,
    APPLY_ZIPF,
    SQL_EVENTS,
    SQL_KEYS,
    WARM_SEED,
    ApplyDrain,
    state_layers,
    store_layers,
)


# the snapshot path's log: uniform keys, so every chunk holds the same
# share of rows
SNAP_EVENTS, SNAP_KEYS = 600_000, 150_000
LATEST_OFFSET_CALLS = 20


def run_probes(ctx: Ctx) -> None:
    """Every probe; the stateful drain only when the workload did not
    measure the state layers itself."""
    from flink_cdc_connectors_spark.sources import datasource

    datasource.register(ctx.spark)
    snap_log = snapshot_probe(ctx)
    source_probe(ctx, snap_log)
    ops_log = ctx.path("inputs", "ops_probe.parquet")
    gen.write_table(gen.events_table(ctx.seed, SQL_EVENTS, SQL_KEYS), ops_log)
    ops_probe(ctx, ops_log)
    if "state.commit_ms" not in ctx.layers:
        t = gen.events_table(ctx.seed + WARM_SEED, 3 * APPLY_CAP, APPLY_KEYS, APPLY_ZIPF)
        probe_log = gen.write_log(ctx.path("inputs", "state_probe"), t)
        state_probe(ctx, probe_log, gen.log_properties(t)["live_rows"])


def snapshot_load(ctx: Ctx, log: str, tag: str) -> dict:
    """One initial-mode snapshot of ``log`` into a fresh parquet sink."""
    sink, ckpt = ctx.path("sinks", tag), ctx.path("ckpt", tag)
    with ctx.tracer.span("snapshot.load", tag=tag):
        t0 = time.perf_counter()
        with ctx.tracer.span("query.build"):
            q = (
                ctx.spark.readStream.format("cdc_binlog")
                .option("path", log)
                .option("numChunks", 2 * ctx.cores)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        with ctx.tracer.span("query.exec") as ex:
            q.awaitTermination()
        wall_s = time.perf_counter() - t0
    batches = [b for b in progress_dicts(q) if b["numInputRows"] > 0]
    trace_batches(ctx.tracer, batches, ex["id"] if ex else None)
    return {"sink": sink, "rows": sum(b["numInputRows"] for b in batches), "wall_s": wall_s}


def snapshot_probe(ctx: Ctx) -> str:
    """``snapshot.rows_per_s``: the second of two snapshot loads of a
    uniform-key log (the first warms the path); returns the log."""
    t = gen.events_table(ctx.seed, SNAP_EVENTS, SNAP_KEYS)
    log = gen.write_log(ctx.path("inputs", "snapshot_probe"), t)
    loads = [snapshot_load(ctx, log, f"snapshot_probe{i}") for i in range(2)]
    for ld in loads:
        bad = oracle.check_snapshot_sink(ld["sink"], log, SNAP_EVENTS - 1)
        ctx.check(bad is None, f"snapshot {ld['sink']}: {bad}")
    ctx.layers["snapshot.rows_per_s"] = loads[-1]["rows"] / loads[-1]["wall_s"]
    return log


def _drain(reader, partition) -> int:
    return sum(batch.num_rows for batch in reader.read(partition))


def source_probe(ctx: Ctx, log: str) -> None:
    """``source.*``: open and plan an initial-mode reader, read its chunks
    with one thread per core (as Spark runs them), then read the whole log
    as one stream range; and time the capped reader's ``latestOffset`` (the
    per-trigger planning call)."""
    from flink_cdc_connectors_spark.sources.datasource import CdcBinlogStreamReader

    with ctx.tracer.span("source.probe"):
        t0 = time.perf_counter()
        with ctx.tracer.span("source.open"):
            reader = CdcBinlogStreamReader(None, {"path": log, "numchunks": str(2 * ctx.cores)})
        t1 = time.perf_counter()
        with ctx.tracer.span("source.plan"):
            parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
        t2 = time.perf_counter()
        with ctx.tracer.span("source.chunk_read"), ThreadPoolExecutor(ctx.cores) as pool:
            rows = sum(pool.map(lambda p: _drain(reader, p), parts))
        t3 = time.perf_counter()
        tail = CdcBinlogStreamReader(
            None, {"path": log, "startupmode": "specific-offset", "startupoffset": "-1"}
        )
        with ctx.tracer.span("source.stream_read"):
            s0 = time.perf_counter()
            events = sum(
                _drain(tail, p) for p in tail.partitions(tail.initialOffset(), tail.latestOffset())
            )
            s1 = time.perf_counter()
        capped = CdcBinlogStreamReader(
            None, {"path": log, "startupmode": "specific-offset", "startupoffset": "-1",
                   "maxoffsetsperbatch": str(APPLY_CAP)}
        )
        with ctx.tracer.span("source.latest_offset"):
            l0 = time.perf_counter()
            for _ in range(LATEST_OFFSET_CALLS):
                capped.latestOffset()
            l1 = time.perf_counter()
    ctx.layers.update(
        {
            "source.open_ms": 1000 * (t1 - t0),
            "source.plan_ms": 1000 * (t2 - t1),
            "source.partitions": len(parts),
            "source.chunk_read_rows_per_s": rows / (t3 - t2),
            "source.stream_read_rows_per_s": events / (s1 - s0),
            "stream.latest_offset_ms": 1000 * (l1 - l0) / LATEST_OFFSET_CALLS,
        }
    )


def _events_df(spark, path: str):
    """A log (parquet dir or file) as a DataFrame with a session-zoned ts."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if dict(df.dtypes)["ts"] == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _timed_noop(ctx: Ctx, name: str, df) -> float:
    with ctx.tracer.span(name):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0


def ops_probe(ctx: Ctx, log: str) -> None:
    """``ops.*`` and ``codec.*``: the CDC operators and the envelope codec
    over the events at ``log``."""
    from pyspark.sql import functions as F

    from flink_cdc_connectors_spark.operators.cdc import (
        changelog_normalize,
        chunk_reconcile,
        retract_aggregate,
        to_retract_stream,
    )
    from flink_cdc_connectors_spark.sources.envelope import (
        changelog_view,
        events_to_debezium_json,
        parse_debezium_json,
    )

    events = _events_df(ctx.spark, log)
    n = events.count()
    cl = changelog_view(events)
    split = int(n * 0.6)
    snapshot = changelog_normalize(cl.filter(F.col("event_id") <= split)).select(
        "user_id", "value", "props", "ts", "event_id"
    )
    reconciled = chunk_reconcile(snapshot, cl.filter(F.col("event_id") > split), ["user_id"])
    agg = retract_aggregate(to_retract_stream(cl), [(F.col("user_id") % 10).alias("cohort")])
    codec = parse_debezium_json(events_to_debezium_json(events))
    ctx.layers.update(
        {
            "ops.normalize_s": _timed_noop(ctx, "ops.normalize", changelog_normalize(cl)),
            "ops.reconcile_s": _timed_noop(ctx, "ops.reconcile", reconciled),
            "ops.retract_agg_s": _timed_noop(ctx, "ops.retract_agg", agg),
            "codec.debezium_roundtrip_rows_per_s": n / _timed_noop(ctx, "codec.roundtrip", codec),
        }
    )


def state_probe(ctx: Ctx, log: str, live_keys: int) -> None:
    """State and store layers from a short drain of ``log`` (a workload
    without a stateful stream of its own)."""
    d = ApplyDrain(ctx, log, "probe").finish()
    layers = {**state_layers(d["batches"]), **store_layers(d["store"], live_keys)}
    for name, value in {**stream_layers(d["batches"]), **layers}.items():
        ctx.layers.setdefault(name, value)
