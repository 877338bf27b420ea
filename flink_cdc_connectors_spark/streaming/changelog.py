"""Streaming changelog ingestion and materialization.

The reference delivers an exactly-once changelog stream into Flink; any SQL
over it stays continuously correct under inserts/updates/deletes
(flink-connector-mysql-cdc/.../table/MySqlTableSource.java:149 declares
ChangelogMode.all; the flagship ITCase MySqlConnectorITCase.java:215-275
materializes a GROUP BY over live DML). Spark has no retract-stream trait,
so the engine's contract is:

  stream of envelope rows  ->  per-key latest-state store  ->  aggregates
  over the store are retract-correct by construction
  (normalize-then-aggregate, SURVEY.md §4).

Materialization (``materialize_latest_state``) runs one path:
``stateful.streaming_changelog_normalize`` (applyInPandasWithState —
row-level incremental state, O(changed keys) per epoch) appended to an
update log. Reads and compaction resolve that log to latest-per-key with
``operators.cdc.changelog_normalize``, the single home of the offset-order
rule.

The streaming source is file-based Debezium-envelope JSON — the exact wire
shape of the reference's JsonDebeziumDeserializationSchema
(flink-connector-debezium/.../JsonDebeziumDeserializationSchema.java) — so
any real Debezium topic/file dump plugs in unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import changelog_normalize
from flink_cdc_connectors_spark.sources.envelope import (
    METADATA_COLUMNS,
    parse_debezium_json,
)
from flink_cdc_connectors_spark.streaming.stateful import (
    streaming_changelog_normalize,
)


def read_changelog_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream Debezium-envelope JSON files -> typed changelog rows.

    Output columns: (op, user_id, value, props, ts, event_id,
    database_name, table_name, op_ts) — §1.1's envelope flattened, same as
    the batch ``parse_debezium_json``.

    Scale: the file source lists incrementally and checkpoints consumed
    files; ``maxFilesPerTrigger`` bounds micro-batch size the way the
    reference bounds fetch batches (MySqlSourceOptions scan.fetch.size).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    return parse_debezium_json(raw, value_col="value")


def _append_state_updates(batch_df: DataFrame, state_dir: str) -> None:
    """Append one micro-batch of per-key state UPDATES to the store.

    The stateful path's store is an append-only update LOG (LSM-style):
    each epoch writes only the keys whose state advanced — O(batch), not
    O(state) — and the read side resolves latest-per-key. The per-key
    dedup already happened in the state store (applyInPandasWithState), so
    batch sizes here are bounded by distinct keys per trigger."""
    out = batch_df.withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).drop("ts_ms")
    out.write.mode("append").parquet(state_dir)


def materialize_latest_state(
    changelog_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] = ("user_id",),
    available_now: bool = True,
):
    """Run the stream -> latest-state materialization. Returns the
    StreamingQuery; with ``available_now`` the query drains all
    currently-visible input and stops.

    ChangelogNormalize via ``applyInPandasWithState`` — per-key row-level
    state in Spark's state store (the reference's keyed state backend),
    update-mode emissions appended to an update log. Per-epoch write cost
    is O(changed keys).
    """
    if len(tuple(key_cols)) != 1:
        raise ValueError("latest state is keyed by a single column")
    key = tuple(key_cols)[0]
    payload = [
        f
        for f in changelog_stream.schema.fields
        if f.name not in METADATA_COLUMNS and f.name != key
    ]
    normalized = streaming_changelog_normalize(
        changelog_stream, key_col=key, payload_fields=payload
    )
    writer = (
        normalized.writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: _append_state_updates(df, state_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_latest_state(
    spark: SparkSession, state_dir: str, key_cols: list[str] = ("user_id",)
) -> DataFrame:
    """Query view over the materialized store: latest row per key, live
    rows only (tombstones filtered) — the upsert-sink read contract.

    The store is an update LOG (several updates per key across epochs);
    ``changelog_normalize`` resolves it by max offset."""
    return changelog_normalize(spark.read.parquet(state_dir), key_cols)


def compact_tombstones(
    spark: SparkSession,
    state_dir: str,
    safe_offset: int,
    key_cols: list[str] = ("user_id",),
) -> int:
    """Log compaction for the state store: keep only the latest row per
    key, then drop tombstones whose offset is <= ``safe_offset`` — Kafka
    log-compaction's delete-retention.

    A tombstone is only needed while an out-of-order event older than it
    could still arrive; once the source offset has durably passed
    ``safe_offset`` (the stream's committed position), tombstones at or
    below it can never be contradicted and are dead weight. Superseded
    update-log rows (not latest for their key) are always dropped. Returns
    the number of tombstone ROWS removed."""
    state = spark.read.parquet(state_dir)
    n_before = state.filter(F.col("op") == "delete").count()
    latest = changelog_normalize(state, key_cols, drop_deletes=False)
    kept = latest.filter(
        (F.col("op") != "delete") | (F.col("event_id") > safe_offset)
    )
    n_after = kept.filter(F.col("op") == "delete").count()
    removed = n_before - n_after
    if removed:
        tmp = state_dir.rstrip("/") + ".compact"
        kept.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(state_dir)
        os.replace(tmp, state_dir)
    return removed


def windowed_agg_stream(
    changelog_stream: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed aggregation with a watermark over the change
    stream (the canonical Flink-over-CDC use, README.md:21-25; event time =
    op_ts per MySqlReadableMetadata.java:68).

    Late events beyond the watermark are dropped by the state store —
    Spark's analog of the reference's low/high watermark windows
    (SignalEventDispatcher.java:78-112).
    """
    win = (
        F.window("ts", window_duration, slide)
        if slide
        else F.window("ts", window_duration)
    )
    return (
        changelog_stream.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "op", "n", "sum_value")
    )
