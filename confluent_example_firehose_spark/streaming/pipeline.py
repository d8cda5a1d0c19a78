"""Structured Streaming twin of the reference's consume loop.

Reference lifecycle (AbstractFirehose.java:113-142): poll <=1000
records / 60 s -> parse -> handle (keyed gauge upsert) -> endOfSet()
flush -> async offset commit. Spark mapping (SURVEY.md §1.6):

  poll batch          -> micro-batch (trigger + maxOffsetsPerTrigger)
  parse + handle      -> same Catalyst plan as the batch pipeline
  endOfSet() flush    -> foreachBatch(epoch_id, df) sink hook
  commitAsync         -> checkpoint WAL (option('checkpointLocation'))

The Kafka source is a thin option-builder (kafka-clients jar and a
broker aren't in this container, so it can't be exercised here); the
file/rate sources run the identical downstream plan, which is the
point — Structured Streaming plans are source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.firehose import (
    label_values,
    labels,
    last_value_table,
    parse_metrics,
    series_key,
)


# The reference's consumer tuning (Configs.java:28-37), mapped onto
# Spark's Kafka source options.
KAFKA_DEFAULTS = {
    "subscribe": "metrics.v1",  # Configs.java:28
    "startingOffsets": "latest",  # auto.offset.reset=latest, Configs.java:31
    "kafka.isolation.level": "read_committed",  # Configs.java:32
    "maxOffsetsPerTrigger": "1000",  # max.poll.records, Configs.java:33
    "kafka.fetch.min.bytes": "16000",  # Configs.java:36
    "failOnDataLoss": "false",
}


def kafka_source_options(bootstrap: str, **overrides: str) -> dict[str, str]:
    """The exact option dict handed to the Kafka source: reference
    defaults (Configs.java:28-37) + bootstrap + caller overrides
    (overrides win, mirroring the reference's first-wins composite).
    Split out from kafka_metric_stream so the mapping is testable in a
    container with no kafka-clients jar/broker."""
    opts = dict(KAFKA_DEFAULTS)
    # bootstrap seeds the dict BEFORE overrides so a caller-supplied
    # kafka.bootstrap.servers override genuinely wins (ADVICE r2)
    opts["kafka.bootstrap.servers"] = bootstrap
    opts.update(overrides)
    return opts


def kafka_metric_stream(
    spark: SparkSession, bootstrap: str, **overrides: str
) -> DataFrame:
    """readStream from the metrics topic -> parsed metric rows.

    Byte[] value -> from_json against METRIC_SCHEMA with the permissive
    skip (AbstractFirehose.java:98-105,118-123)."""
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap, **overrides))
        .load()
    )
    # ONE parse/skip implementation for batch and streaming — divergent
    # corrupt-record predicates would make the two paths process
    # different row sets.
    return parse_metrics(raw, value_col="value")


def stage_event_files(
    spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 4
) -> None:
    """Split the events table into n time-range files under out_dir so
    the file source yields n micro-batches (maxFilesPerTrigger=1) in
    event-time order — the batch twin of n Kafka polls.

    Two determinism guards (r5, found by the streaming hash oracles):

    1. FileStreamSource orders batches by file MODIFICATION TIME; the
       parallel write gives all parts near-identical mtimes, so batch
       order (and therefore which rows are "late" w.r.t. the
       watermark) was nondeterministic. repartitionByRange assigns
       ascending ts ranges to ascending partition ids, so re-stamping
       mtimes in filename order pins arrival = event-time order.
    2. availableNow never runs a batch after the last data file, so
       the watermark advance from the final batch evicts nothing —
       append-mode sinks permanently miss the last file's closed
       windows. An EMPTY tail file (latest mtime) triggers one final
       flush batch that applies the end-of-data watermark.
    """
    import glob
    import time

    import pyarrow.parquet as pq

    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    events.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(
        out_dir
    )
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
    flush = os.path.join(out_dir, "zz-flush.parquet")
    pq.write_table(
        pq.ParquetFile(parts[0]).schema_arrow.empty_table(), flush
    )
    base = time.time()
    for i, path in enumerate(parts + [flush]):
        os.utime(path, (base + i, base + i))


def file_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source streaming twin over staged event files: identical
    downstream plan to the Kafka source; used for exercising the
    streaming layer in this container (no broker available)."""
    batch = spark.read.parquet(events_dir)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )


def drain(
    stream: DataFrame, ckpt: str, per_batch, mode: str = "append"
) -> None:
    """Run `stream` through per_batch(batch_df, batch_id) until its
    available input is consumed: the reference's poll / handle /
    endOfSet() flush / commit cycle (AbstractFirehose.java:113-142) as
    one availableNow foreachBatch query checkpointed at `ckpt`.

    Replay law: a batch commits only after per_batch returns. If
    per_batch raises, drain raises, and the next drain from `ckpt`
    re-delivers that batch under the same batch id before any later
    one, so a sink keyed on batch_id (batch_id_sink) is exactly-once."""
    (
        stream.writeStream.outputMode(mode)
        .foreachBatch(per_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def batch_id_sink(out: str):
    """Idempotent foreachBatch parquet sink for drain: each batch
    overwrites its own `out/batch_id=N` directory, so a replayed batch
    rewrites the same directory instead of duplicating rows."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch_id={batch_id}")
        )

    return write_batch


def latest_value_stream(events: DataFrame) -> DataFrame:
    """Streaming keyed latest-value state (the gauge cache twin,
    AbstractPrometheusFirehose.java:41-51): last_value_table in update
    mode. State store holds one row per series — the streaming
    equivalent of the 10k-gauge cache."""
    return last_value_table(
        events,
        ["user_id", "event_type"],
        "value",
        ["ts", "event_id"],
        extra_aggs={"n_events": F.count(F.lit(1))},
    )


def metric_latest_value_stream(metrics: DataFrame) -> DataFrame:
    """Latest-value state table for METRIC_SCHEMA rows — the exact
    gauge-registry key: (metric name, key-sorted filtered label vector)
    (AbstractPrometheusFirehose.java:42,48). Works identically on a
    batch or streaming metrics DataFrame (same Catalyst plan)."""
    keyed = metrics.select(
        F.col("name"),
        series_key("name", "tags").alias("series"),
        F.col("component"),
        labels("tags").alias("labels"),
        label_values("tags").alias("label_values"),
        F.timestamp_seconds(F.col("timestamp")).alias("ts"),
        F.col("value"),
        F.col("id"),
    )
    return last_value_table(
        keyed,
        ["name", "series"],
        "value",
        ["ts", "id"],
        extra_aggs={
            # gauge namespace, AbstractPrometheusFirehose.java:53-63
            "component": F.first("component"),
            # labels/label_values are functions of the series key (key-
            # sorted), so first() is deterministic per group.
            "labels": F.first("labels"),
            "label_values": F.first("label_values"),
            "n_events": F.count(F.lit(1)),
        },
    )


def metric_windows(metrics: DataFrame, interval_s: int = 60) -> DataFrame:
    """PRODUCE the 60 s tumbling window struct the reference only
    consumes pre-computed (FirehoseMetric.java:26-46, SURVEY.md §1.2):
    aggregate raw metric points into (from, to, interval) rows shaped
    exactly like the upstream producer's."""
    ts = F.timestamp_seconds(F.col("timestamp"))
    win = F.window(ts, f"{interval_s} seconds")
    return (
        metrics.groupBy(F.col("name"), win.alias("w"))
        .agg(
            F.sum("value").alias("value"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            "name",
            F.struct(
                F.unix_timestamp("w.start").alias("from"),
                F.unix_timestamp("w.end").alias("to"),
                F.lit(interval_s).alias("interval"),
            ).alias("window"),
            "value",
            "n_points",
        )
    )
