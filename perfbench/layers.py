"""Metric catalogue: every end-to-end and per-layer metric with its unit,
direction and, for layer metrics, the metric and workload it should move.
``BENCHMARK.json`` lists the same names (a test checks it).

End-to-end metrics are defined on every workload, with the workload's own
unit of work:

================ =============================== =============================
metric           binlog_apply                    changelog_sql
================ =============================== =============================
throughput_per_s events applied per s            queries answered per s
op_p50_ms        one timed micro-batch           one query, build + collect
read_p50_ms      fixed aggregate over the latest one query's collect, after
                 state, after the writes         its plan is built
peak_pss_mb      whole process tree: Python driver, JVM, Python workers
================ =============================== =============================

The snapshot path (``snapshot.*`` and ``source.open/plan/partitions/
chunk_read``) is measured by a probe of every traced run, not by a
workload of its own, because a third workload's runs do not fit the run
budget. Its layer metrics are tagged with the metric and workload they
would move, ``snapshot_rows_per_s`` on ``snapshot_load``; neither is in
``BENCHMARK.json``, so these figures are reported and not gated.
"""

from __future__ import annotations

WORKLOADS = ("binlog_apply", "changelog_sql")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
    "read_p50_ms": ("ms", "lower"),
    "peak_pss_mb": ("MB", "lower"),
}

# The names the workloads' results go by in the engine's own terms.
WORKLOAD_NAMES = {
    "binlog_apply": {"throughput_per_s": "apply_events_per_s", "op_p50_ms": "apply_batch_p50_ms",
                     "read_p50_ms": "state_query_p50_ms"},
    "changelog_sql": {"throughput_per_s": "sql_queries_per_s", "op_p50_ms": "sql_query_p50_ms",
                      "read_p50_ms": "sql_collect_p50_ms"},
}

_ALL = "all"
_SNAP = ("snapshot_rows_per_s", "snapshot_load")
# name -> (unit, better, end-to-end metric it should move, workload)
PER_LAYER = {
    "session.start_s": ("s", "lower", "setup_s", _ALL),
    "snapshot.rows_per_s": ("1/s", "higher", *_SNAP),
    "source.open_ms": ("ms", "lower", *_SNAP),
    "source.plan_ms": ("ms", "lower", *_SNAP),
    "source.partitions": ("count", "higher", *_SNAP),
    "source.chunk_read_rows_per_s": ("1/s", "higher", *_SNAP),
    "source.stream_read_rows_per_s": ("1/s", "higher", "op_p50_ms", "binlog_apply"),
    "stream.latest_offset_ms": ("ms", "lower", "op_p50_ms", "binlog_apply"),
    "stream.query_planning_ms": ("ms", "lower", "op_p50_ms", "binlog_apply"),
    "stream.wal_commit_ms": ("ms", "lower", "op_p50_ms", "binlog_apply"),
    "stream.commit_offsets_ms": ("ms", "lower", "op_p50_ms", "binlog_apply"),
    "stream.add_batch_ms": ("ms", "lower", "op_p50_ms", "binlog_apply"),
    "state.all_updates_ms": ("ms", "lower", "throughput_per_s", "binlog_apply"),
    "state.commit_ms": ("ms", "lower", "throughput_per_s", "binlog_apply"),
    "state.rows_updated": ("count", "lower", "throughput_per_s", "binlog_apply"),
    "state.rows_total": ("count", "lower", "throughput_per_s", "binlog_apply"),
    "state.memory_bytes": ("bytes", "lower", "throughput_per_s", "binlog_apply"),
    "state.keys_per_batch": ("count", "lower", "throughput_per_s", "binlog_apply"),
    "state.update_ratio": ("ratio", "lower", "throughput_per_s", "binlog_apply"),
    # the update log the apply writes, which the read after it scans
    "store.files": ("count", "lower", "read_p50_ms", "binlog_apply"),
    "store.bytes": ("bytes", "lower", "read_p50_ms", "binlog_apply"),
    "store.rows": ("count", "lower", "read_p50_ms", "binlog_apply"),
    "store.read_amplification": ("ratio", "lower", "read_p50_ms", "binlog_apply"),
    "ops.normalize_s": ("s", "lower", "op_p50_ms", "changelog_sql"),
    "ops.reconcile_s": ("s", "lower", "op_p50_ms", "changelog_sql"),
    "ops.retract_agg_s": ("s", "lower", "op_p50_ms", "changelog_sql"),
    "codec.debezium_roundtrip_rows_per_s": ("1/s", "higher", "op_p50_ms", "changelog_sql"),
    "query.build_s": ("s", "lower", "op_p50_ms", "changelog_sql"),
    "query.exec_s": ("s", "lower", "read_p50_ms", "changelog_sql"),
    "query.build_share": ("ratio", "lower", "op_p50_ms", "changelog_sql"),
    "query.gateway_calls": ("count", "lower", "op_p50_ms", "changelog_sql"),
    "jvm.gc_ms": ("ms", "lower", "throughput_per_s", _ALL),
    "jvm.heap_peak_mb": ("MB", "lower", "peak_pss_mb", _ALL),
    "exec.jobs": ("count", "lower", "throughput_per_s", _ALL),
    "exec.tasks": ("count", "lower", "throughput_per_s", _ALL),
    "exec.shuffle_write_bytes": ("bytes", "lower", "throughput_per_s", _ALL),
    "exec.core_util": ("ratio", "higher", "throughput_per_s", _ALL),
    # the Python workers' share of peak_pss_mb
    "exec.python_workers_pss_mb": ("MB", "lower", "peak_pss_mb", _ALL),
}
# The traced run's own end-to-end figures: tracing overhead is each of
# these minus the untraced run's value for the same workload and seed.
for _name, (_unit, _better) in END_TO_END.items():
    PER_LAYER[f"traced.{_name}"] = (_unit, _better, _name, _ALL)
