"""Streaming layer smoke at sf0.001: micro-batch boundaries, the
latest-value registry, and the Prometheus text renderer."""

from __future__ import annotations

import os
import sys

import pytest

from confluent_example_firehose_spark.registry import query_fns
from confluent_example_firehose_spark.streaming.sinks import to_prometheus_text


def test_microbatch_flush_epochs(spark, sf_dir):
    out = query_fns()["q_microbatch_flush"](spark, sf_dir).collect()
    # 4 staged data files with maxFilesPerTrigger=1 -> 4 non-empty
    # micro-batches, plus the one empty watermark-flush epoch
    # (stage_event_files); row total = the whole events table.
    assert len(out) == 1
    row = out[0]
    assert row["n_epochs"] == 5
    assert row["n_empty_epochs"] == 1
    assert row["n_rows_total"] > 0


def test_pull_sink_registry_matches_batch(spark, sf_dir):
    from confluent_example_firehose_spark.catalog import load_table
    from pyspark.sql import functions as F

    out = query_fns()["q_sink_pull"](spark, sf_dir)
    events = load_table(spark, sf_dir, "events")
    batch = events.groupBy("user_id", "event_type").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value")
    )
    stream_rows = {
        (r["user_id"], r["event_type"]): r["last_value"] for r in out.collect()
    }
    batch_rows = {
        (r["user_id"], r["event_type"]): r["last_value"]
        for r in batch.collect()
    }
    # the streaming registry converges to exactly the batch answer
    assert stream_rows == batch_rows


def test_prometheus_text_format(spark):
    df = spark.createDataFrame(
        [(1, "click", 2.5), (0, "view", 1.0)],
        ["user_id", "event_type", "last_value"],
    )
    text = to_prometheus_text(df)
    lines = text.strip().splitlines()
    assert lines[0].startswith("# HELP") and lines[1].startswith("# TYPE")
    # sorted by key, label-formatted
    assert lines[2] == 'firehose_last_value{user_id="0",event_type="view"} 1.0'
    assert lines[3] == 'firehose_last_value{user_id="1",event_type="click"} 2.5'


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restarting from the same checkpoint must process each input file
    exactly once (offset-commit parity: AbstractFirehose.java:131 ->
    checkpoint WAL). Two files first, stop, add two more, restart: the
    second run must only count the new files' rows."""
    import glob
    import shutil

    from confluent_example_firehose_spark.streaming.pipeline import (
        drain,
        stage_event_files,
    )

    staged = tmp_path / "staged"
    indir = tmp_path / "input"
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()
    stage_event_files(spark, sf_dir, str(staged), n_files=4)
    parts = sorted(glob.glob(str(staged / "part-*")))
    assert len(parts) == 4

    batch_schema = spark.read.parquet(str(staged)).schema
    total_rows = spark.read.parquet(str(staged)).count()

    def run_until_drained(counts: list[int]) -> None:
        stream = (
            spark.readStream.schema(batch_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(indir))
        )
        drain(stream, ckpt, lambda df, epoch: counts.append(df.count()))

    for p in parts[:2]:
        shutil.copy(p, indir)
    first: list[int] = []
    run_until_drained(first)

    for p in parts[2:]:
        shutil.copy(p, indir)
    second: list[int] = []
    run_until_drained(second)

    assert len(first) == 2 and len(second) == 2  # no re-processing
    assert sum(first) + sum(second) == total_rows


def test_drain_replays_failed_batch_under_same_id(spark, sf_dir, tmp_path):
    """drain's replay law: a batch whose per_batch raised is never
    committed, so drain raises and the next drain from the same
    checkpoint re-delivers that batch id before any later one. The
    failure lands after batch_id_sink wrote batch 1 (a crash between
    sink write and commit); the replay overwrites the same batch_id=1
    directory, so the rescan holds every staged row exactly once."""
    from pyspark.errors import StreamingQueryException

    from confluent_example_firehose_spark.streaming.pipeline import (
        batch_id_sink,
        drain,
        file_event_stream,
        stage_event_files,
    )

    staged = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    stage_event_files(spark, sf_dir, staged, n_files=4)
    sink = batch_id_sink(out)

    first: list[int] = []

    def fail_on_batch_1(batch_df, batch_id: int) -> None:
        first.append(batch_id)
        sink(batch_df, batch_id)
        if batch_id == 1:
            raise RuntimeError("injected failure after the batch 1 write")

    with pytest.raises(StreamingQueryException, match="injected failure"):
        drain(file_event_stream(spark, staged), ckpt, fail_on_batch_1)
    assert first == [0, 1]

    second: list[int] = []

    def record(batch_df, batch_id: int) -> None:
        second.append(batch_id)
        sink(batch_df, batch_id)

    drain(file_event_stream(spark, staged), ckpt, record)
    # 4 data files + the empty flush file -> batch ids 0..4; batch 1
    # comes back first, batch 0 never does.
    assert second == [1, 2, 3, 4]
    back = spark.read.option("basePath", out).parquet(out + "/batch_id=*")
    assert back.count() == spark.read.parquet(staged).count()


def _table_hash():
    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    try:
        from check_oracle import table_hash
    finally:
        sys.path.remove(tools)
    return table_hash


@pytest.mark.parametrize(
    "name",
    [
        "q_sink_push",
        "q_sink_push_http",
        "q_sink_foreachbatch",
        "q_stream_join",
        "q_stream_join_outer",
    ],
)
def test_drain_queries_match_oracle(spark, sf_dir, name):
    """The drain-based stream queries hash-equal their registered
    DuckDB oracles (tools/check_oracle.py's value hash)."""
    import duckdb

    from confluent_example_firehose_spark.registry import all_queries
    from confluent_example_firehose_spark.schema import TABLE_NAMES

    table_hash = _table_hash()
    spec = all_queries()[name]
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(spec.oracle_sql())
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    con.close()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows) > 0
    assert table_hash(srows, sdf.columns) == table_hash(orows, ocols)


def test_event_time_ttl_hand_verified(spark, tmp_path):
    """q_stateful_ttl_event on a constructed micro-corpus with sessions
    known by hand: a 2-day event-time gap closes a session mid-stream
    (tombstone emitted when the next event arrives OR when the
    watermark passes — provably the same set on ordered staged input);
    a trailing session closes iff last_ts + TTL < max_ts - 1 h."""
    from datetime import datetime, timedelta

    from confluent_example_firehose_spark.registry import all_queries

    t0 = datetime(2024, 1, 1)

    def ev(eid, dt, uid, etype, val):
        return (eid, t0 + dt, uid, etype, float(val), "{}")

    rows = [
        # key (1, a): two events 1 h apart, then a 10-day gap ->
        # session 1 (n=2, last=v2) closed mid-stream; session 2 (n=1)
        # trailing-closed because t0+10d + 2d < t0+20d - 1h
        ev(1, timedelta(hours=0), 1, "a", 1.0),
        ev(2, timedelta(hours=1), 1, "a", 2.0),
        ev(3, timedelta(days=10), 1, "a", 3.0),
        # key (2, b): single event at the global max ts -> its session
        # survives (last_ts + 2d > max_ts - 1h): NO tombstone
        ev(4, timedelta(days=20), 2, "b", 4.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf_dir = str(tmp_path / "micro_sf")
    df.coalesce(1).write.parquet(sf_dir + "/events.parquet")

    out = all_queries()["q_stateful_ttl_event"].fn(spark, sf_dir)
    got = {
        (r["user_id"], r["event_type"], r["n_events"]): (
            r["last_value"],
            r["last_ts"],
        )
        for r in out.collect()
    }
    assert got == {
        (1, "a", 2): (2.0, t0 + timedelta(hours=1)),
        (1, "a", 1): (3.0, t0 + timedelta(days=10)),
    }


def test_event_time_ttl_boundary_strictness(spark, tmp_path):
    """Pin the EventTimeTimeout firing condition the oracle's strict
    `last_ts + TTL < watermark` mirrors: at EXACT equality
    (deadline == final watermark) Spark does NOT evict; 1 second past
    it, it does. Probed empirically in r6 — if a Spark upgrade flips
    this to >=, the oracle must flip with it, and this test is the
    tripwire."""
    from datetime import datetime, timedelta

    from confluent_example_firehose_spark.registry import all_queries

    t0 = datetime(2024, 1, 1)

    def run(extra):
        rows = [
            (1, t0, 1, "a", 1.0, "{}"),
            # the second key's single event sets the final watermark to
            # t0 + 2d (+ extra): exactly key 1's deadline when extra=0
            (2, t0 + timedelta(days=2, hours=1) + extra, 2, "b", 2.0,
             "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        )
        d = str(tmp_path / f"sf_{extra.total_seconds():.0f}")
        df.coalesce(1).write.parquet(d + "/events.parquet")
        return all_queries()["q_stateful_ttl_event"].fn(spark, d).collect()

    assert run(timedelta(0)) == []  # equality: no eviction
    past = run(timedelta(seconds=1))  # strictly past: key 1 evicts
    assert [(r["user_id"], r["event_type"]) for r in past] == [(1, "a")]
