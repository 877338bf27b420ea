"""The two workloads. Each drives only public engine entry points:
``session.get_spark``, ``sources.datasource.register`` and the
``cdc_binlog`` stream source, ``streaming.changelog`` and the query
registry.

A workload has four steps, called in order by ``run.py``: ``prepare``
(seeded inputs and references, before the session starts), ``setup``
(session, source registration, warm pass), ``window`` (the timed work,
about ``--seconds`` long, and never less than one whole operation) and
``verify`` (the correctness gate).
"""

from __future__ import annotations

import math
import os
import statistics
import time

import gen
import oracle
from common import Ctx, median, progress_dicts, stream_layers, tail, trace_batches

# binlog_apply: Zipf-skewed keys (hot rows), drained in capped batches:
# APPLY_WARM warm-up batches, then one timed batch per APPLY_BATCH_S
# seconds of the window, at least APPLY_MIN_TIMED; then STATE_READS runs
# of the fixed read over the latest state
APPLY_KEYS, APPLY_ZIPF, APPLY_CAP = 100_000, 1.1, 1_000
APPLY_WARM, APPLY_BATCH_S, APPLY_MIN_TIMED = 3, 2.5, 5
STATE_READS = 7
# seed offset of inputs that must differ from the workload's own
WARM_SEED = 1_000_003
# changelog_sql sf-dir: small, so a query's time is mostly plan building
# and code generation, not data (a warm round takes about 11 s on 4 cores
# with 2k, 4k or 20k events). Rounds keep getting faster until the third
# (11.4, 10.5, 8.4, 7.6, 8.3 s), so SQL_WARM_ROUNDS untimed rounds come
# first; then whole rounds of SQL_MIX while another one fits the window.
SQL_EVENTS, SQL_KEYS, SQL_ORDERS = 2_000, 200, 1_500
SQL_WARM_ROUNDS = 2
SQL_MIX = (
    "cdc_changelog_normalize",
    "cdc_chunk_reconcile",
    "cdc_offset_filter",
    "cdc_retract_agg",
    "cdc_startup_modes",
    "cdc_deserialize_envelope",
    "cdc_envelope_retract_agg",
    "cdc_multi_table_route",
    "cdc_metadata_columns",
    "cdc_format_roundtrip",
    "cdc_upsert_sink",
    "cdc_schema_evolution",
)


def _open_window(ctx: Ctx) -> None:
    ctx.window = (time.time(), 0.0)


def _close_window(ctx: Ctx) -> None:
    ctx.window = (ctx.window[0], time.time())


class BinlogApply:
    """Zipf-skewed log from ``specific-offset`` (no snapshot), capped at
    ``APPLY_CAP`` offsets per micro-batch, through the default
    ``materialize_latest_state``; the drain is followed by the fixed
    ``read_latest_state`` aggregate. The first ``APPLY_WARM`` batches of
    the drain are its warm pass, the rest are timed."""

    register = True

    def prepare(self, ctx: Ctx) -> None:
        timed = max(APPLY_MIN_TIMED, math.ceil(ctx.seconds / APPLY_BATCH_S))
        n = APPLY_CAP * (APPLY_WARM + timed)
        t = gen.events_table(ctx.seed, n, APPLY_KEYS, APPLY_ZIPF)
        self.log = gen.write_log(ctx.path("inputs", "log"), t)
        ctx.info["inputs"] = gen.log_properties(t, APPLY_CAP)
        self.live = ctx.info["inputs"]["live_rows"]

    def warm(self, ctx: Ctx) -> None:
        self.drain = ApplyDrain(ctx, self.log, "drain")
        self.drain.wait_batches(APPLY_WARM)

    def window(self, ctx: Ctx) -> None:
        _open_window(ctx)
        d = self.drain.finish()
        _close_window(ctx)
        batches = d["batches"][APPLY_WARM:]
        ms = [b["durationMs"]["triggerExecution"] for b in batches]
        ctx.info["apply_batch_ms"] = ms
        ctx.e2e["throughput_per_s"] = 1000 * sum(b["numInputRows"] for b in batches) / sum(ms)
        ctx.e2e["op_p50_ms"] = median(ms)
        ctx.layers.update(stream_layers(batches))
        ctx.layers.update(state_layers(batches))
        _query_layers(ctx, [d])
        reads = [state_query(ctx, d["store"]) for _ in range(STATE_READS)]
        ctx.info["state_query_s"] = reads
        ctx.e2e["read_p50_ms"] = 1000 * median(reads)
        ctx.layers.update(store_layers(d["store"], self.live))
        self.batches = len(batches)

    def verify(self, ctx: Ctx) -> None:
        from flink_cdc_connectors_spark.streaming.changelog import read_latest_state

        got = (
            read_latest_state(ctx.spark, self.drain.store)
            .select("user_id", "op", "value", "props", "event_id")
            .toPandas()
        )
        bad = oracle.check_latest_state(got, self.log)
        # every timed batch and the state read count as failed on a mismatch
        for _ in range(self.batches + 1):
            ctx.check(bad is None, f"latest state {self.drain.store}: {bad}")


class ChangelogSql:
    """One closed-loop client running whole rounds of ``SQL_MIX`` over a
    seeded sf-dir; every timed answer is compared with the key's registry
    oracle. The warm pass is ``SQL_WARM_ROUNDS`` untimed rounds: a
    query's first runs compile and load what later runs reuse."""

    register = False

    def prepare(self, ctx: Ctx) -> None:
        from flink_cdc_connectors_spark.registry import all_queries

        t = gen.events_table(ctx.seed, SQL_EVENTS, SQL_KEYS)
        self.sf = gen.write_sf_dir(ctx.path("inputs", "sf"), t, ctx.seed + 1, SQL_ORDERS)
        ctx.info["inputs"] = {**gen.log_properties(t), "orders": SQL_ORDERS}
        queries = all_queries()
        self.specs = {k: queries[k] for k in SQL_MIX}
        self.oracles = oracle.registry_oracles(self.sf, self.specs)
        self.answers: list[tuple[str, object]] = []
        self.ops: list[dict] = []

    def _query(self, ctx: Ctx, key: str) -> tuple[dict, object]:
        with ctx.tracer.span("sql.query", key=key):
            t0 = time.perf_counter()
            with ctx.tracer.span("query.build"), ctx.counting() as calls:
                df = self.specs[key].builder(ctx.spark, self.sf)
            t1 = time.perf_counter()
            with ctx.tracer.span("query.exec"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        # a builder may cache intermediates; each query starts without them
        ctx.spark.catalog.clearCache()
        op = {"key": key, "build_s": t1 - t0, "exec_s": t2 - t1, "wall_s": t2 - t0,
              "calls": calls[0]}
        return op, pdf

    def warm(self, ctx: Ctx) -> None:
        for key in SQL_MIX * SQL_WARM_ROUNDS:
            self._query(ctx, key)

    def window(self, ctx: Ctx) -> None:
        _open_window(ctx)
        t0, rounds = time.perf_counter(), 0
        # stop when a round of the mean length so far would overrun
        while not rounds or (time.perf_counter() - t0) * (rounds + 1) / rounds <= ctx.seconds:
            for key in SQL_MIX:
                op, pdf = self._query(ctx, key)
                self.ops.append(op)
                self.answers.append((key, pdf))
            rounds += 1
        _close_window(ctx)

        def per_key(field: str) -> dict[str, float]:
            return {k: median([o[field] for o in self.ops if o["key"] == k]) for k in SQL_MIX}

        wall = per_key("wall_s")
        ctx.info["sql_round_s"] = [
            sum(o["wall_s"] for o in self.ops[i : i + len(SQL_MIX)])
            for i in range(0, len(self.ops), len(SQL_MIX))
        ]
        ctx.info["sql_query_s_by_key"] = wall
        ctx.e2e["throughput_per_s"] = len(wall) / sum(wall.values())
        ctx.e2e["op_p50_ms"] = 1000 * median(list(wall.values()))
        ctx.e2e["read_p50_ms"] = 1000 * median(list(per_key("exec_s").values()))
        value, pct, n = tail([o["wall_s"] for o in self.ops])
        ctx.info["sql_query_tail_s"] = {"value": value, "percentile": pct, "samples": n}
        _query_layers(ctx, self.ops)

    def verify(self, ctx: Ctx) -> None:
        from tests.oracle_compare import assert_same

        for key, pdf in self.answers:
            try:
                assert_same(pdf, self.oracles[key], key)
                bad = None
            except AssertionError as exc:
                bad = str(exc)
            ctx.check(bad is None, f"{key}: {bad}")


WORKLOADS = {
    "binlog_apply": BinlogApply,
    "changelog_sql": ChangelogSql,
}


class ApplyDrain:
    """``log`` materialized from its first offset into a fresh latest-state
    store, ``APPLY_CAP`` offsets per micro-batch; the query starts on
    construction."""

    def __init__(self, ctx: Ctx, log: str, tag: str) -> None:
        from flink_cdc_connectors_spark.streaming.changelog import materialize_latest_state

        self.ctx = ctx
        self.store, ckpt = ctx.path("stores", tag), ctx.path("ckpt", tag)
        self.t0 = time.perf_counter()
        with ctx.tracer.span("query.build", tag=tag), ctx.counting() as calls:
            stream = (
                ctx.spark.readStream.format("cdc_binlog")
                .option("path", log)
                .option("startupMode", "specific-offset")
                .option("startupOffset", -1)
                .option("maxOffsetsPerBatch", APPLY_CAP)
                .load()
            )
            self.query = materialize_latest_state(stream, self.store, ckpt, available_now=False)
        self.t1 = time.perf_counter()
        self.calls = calls

    def _batches(self) -> list[dict]:
        return [b for b in progress_dicts(self.query) if b["numInputRows"] > 0]

    def wait_batches(self, n: int) -> None:
        """Block until ``n`` non-empty micro-batches have completed."""
        with self.ctx.tracer.span("query.exec", until=n):
            while len(self._batches()) < n:
                if not self.query.isActive:
                    raise RuntimeError(f"apply query ended early: {self.query.exception()}")
                time.sleep(0.02)

    def finish(self) -> dict:
        """Drain the rest, stop the query; return its batches and times
        (``exec_s`` counts from this call, after any warm batches)."""
        t_exec = time.perf_counter()
        with self.ctx.tracer.span("query.exec") as ex:
            try:
                self.query.processAllAvailable()
            finally:
                self.query.stop()
        t2 = time.perf_counter()
        batches = self._batches()
        trace_batches(self.ctx.tracer, batches, ex["id"] if ex else None)
        return {"store": self.store, "batches": batches, "build_s": self.t1 - self.t0,
                "exec_s": t2 - t_exec, "wall_s": self.t1 - self.t0 + t2 - t_exec,
                "calls": self.calls[0]}


def state_query(ctx: Ctx, store: str) -> float:
    """The fixed aggregate over the latest state; returns its seconds."""
    from pyspark.sql import functions as F

    from flink_cdc_connectors_spark.streaming.changelog import read_latest_state

    with ctx.tracer.span("store.read"):
        t0 = time.perf_counter()
        (
            read_latest_state(ctx.spark, store)
            .groupBy((F.col("user_id") % 10).alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
            .collect()
        )
        return time.perf_counter() - t0


def state_layers(batches: list[dict]) -> dict[str, float]:
    """State-store figures of the stateful operator: per-batch means of the
    times, the rows updated over all batches and per batch (each batch
    updates the state of every key it holds)."""
    ops = [b["stateOperators"][0] for b in batches]
    updated = [o["numRowsUpdated"] for o in ops]
    return {
        "state.all_updates_ms": statistics.fmean([o["allUpdatesTimeMs"] for o in ops]),
        "state.commit_ms": statistics.fmean([o["commitTimeMs"] for o in ops]),
        "state.rows_updated": sum(updated),
        "state.rows_total": ops[-1]["numRowsTotal"],
        "state.memory_bytes": ops[-1]["memoryUsedBytes"],
        "state.keys_per_batch": median(updated),
        "state.update_ratio": sum(updated) / sum(b["numInputRows"] for b in batches),
    }


def store_layers(store: str, live_keys: int) -> dict[str, float]:
    """Files, bytes and rows of the materialized update log, and its rows
    per live key (the read amplification a reader pays)."""
    import duckdb

    files = [os.path.join(store, f) for f in os.listdir(store) if f.endswith(".parquet")]
    rows = duckdb.sql(f"SELECT count(*) FROM '{os.path.join(store, '*.parquet')}'").fetchone()[0]
    return {
        "store.files": len(files),
        "store.bytes": sum(os.path.getsize(f) for f in files),
        "store.rows": rows,
        "store.read_amplification": rows / max(live_keys, 1),
    }


def _query_layers(ctx: Ctx, ops: list[dict]) -> None:
    """Driver-side build vs execution split of the window's operations."""
    build = median([o["build_s"] for o in ops])
    execute = median([o["exec_s"] for o in ops])
    ctx.layers["query.build_s"] = build
    ctx.layers["query.exec_s"] = execute
    ctx.layers["query.build_share"] = sum(o["build_s"] for o in ops) / sum(
        o["wall_s"] for o in ops
    )
    ctx.layers["query.gateway_calls"] = median([o["calls"] for o in ops])
