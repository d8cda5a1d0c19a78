"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # engine package

import gen  # noqa: E402
import replay  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402


# -- percentile rule ---------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(999) == 95.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(199) == 90.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(99) == 75.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(19) is None


def test_percentile_interpolates_linearly():
    xs = [float(x) for x in range(1, 101)]  # 1..100
    assert stats.percentile(xs, 50) == 50.5
    assert abs(stats.percentile(xs, 95) - 95.05) < 1e-9
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([5.0, 1.0], 50) == 3.0  # order-free


def test_workload_sample_counts_support_their_tails():
    seconds = workloads.SPEC["run_seconds"]
    plan, phases = workloads.push_plan(seconds)
    assert len(phases["lo"]) == len(phases["hi"]) == workloads.PUSH_FILES_PER_PHASE
    assert stats.tail_percentile(len(phases["hi"])) == 95.0
    n_scrapes = round(seconds / 2 / workloads.PULL_SCRAPE_INTERVAL_S)
    assert stats.tail_percentile(n_scrapes) >= 75.0


# -- heartbeat -> freshness ----------------------------------------------------


def test_freshness_maps_each_file_to_first_covering_push():
    due = {0: 0.0, 1: 0.1, 2: 0.2, 3: 0.3, 4: 0.4}
    pushes = [(0.5, -1), (0.6, 1), (0.9, 1), (1.2, 3)]
    fresh, missed = stats.freshness(due, pushes)
    assert fresh == {0: 0.6, 1: 0.5, 2: 1.2 - 0.2, 3: 1.2 - 0.3}
    assert missed == [4]


def test_freshness_skips_heartbeat_gaps():
    # a push naming file 7 covers every earlier file, even unnamed ones
    due = {5: 1.0, 6: 2.0, 7: 3.0}
    fresh, missed = stats.freshness(due, [(4.0, 7)])
    assert fresh == {5: 3.0, 6: 2.0, 7: 1.0} and missed == []


def test_heartbeat_of_reads_the_pushed_sequence_number():
    text = (
        "# HELP perfbench_heartbeat Confluent Metric: heartbeat\n"
        "# TYPE perfbench_heartbeat gauge\n"
        f"{gen.HEARTBEAT_KEY} 42.0\n"
        'kafka_x{a="b"} 1.5\n'
    )
    assert workloads.heartbeat_of(text) == 42
    assert workloads.heartbeat_of('kafka_x{a="b"} 1.5\n') == -1


# -- generator -----------------------------------------------------------------


def _bytes(seed):
    plan = [{"seq": k, "due": 0.0, "n": 50} for k in range(3)]
    return [gen.encode(recs) for _, recs in gen.plan_records(seed, plan)]


def test_generator_is_deterministic_per_seed():
    assert _bytes(7) == _bytes(7)
    assert _bytes(7) != _bytes(8)


def test_encode_matches_json_dumps():
    plan = [{"seq": 3, "due": 0.0, "n": 20}]
    (_, recs), = gen.plan_records(1, plan)
    want = "".join(json.dumps(r) + "\n" for r in recs).encode()
    assert gen.encode(recs) == want
    assert recs[-1] == gen.heartbeat(3)


def test_series_keys_are_distinct_and_zipf_skewed():
    series = gen.series_table(3)
    keys = {replay.line_key(n, c, t) for n, c, t in series}
    assert len(keys) == gen.N_SERIES
    plan = [{"seq": 0, "due": 0.0, "n": 20_000}]
    (_, recs), = gen.plan_records(3, plan)
    counts: dict[str, int] = {}
    for r in recs[:-1]:
        counts[r["tags"]["user"]] = counts.get(r["tags"]["user"], 0) + 1
    top = max(counts.values())
    assert top > 20 * (20_000 / gen.N_SERIES)  # the head is hot
    assert len(counts) < gen.N_SERIES  # the tail is sparse


def test_push_generator_writes_atomically_on_schedule(tmp_path):
    out, ctl = tmp_path / "out", tmp_path / "ctl"
    out.mkdir()
    ctl.mkdir()
    plan = [{"seq": k, "due": 0.02 * k, "n": 5} for k in range(4)]
    gen.write_atomic(str(ctl), "go", json.dumps({"t0": time.monotonic()}).encode())
    rep = gen.run_push(9, str(out), plan, str(ctl))
    assert sorted(os.listdir(out)) == [gen.file_name(k) for k in range(4)]
    assert [f[0] for f in rep["files"]] == [0, 1, 2, 3]
    assert all(w >= d for _, d, w in rep["files"])
    assert rep["records"] == 4 * 6 and rep["errors"] == 0
    assert rep["late_ms_max"] >= 0.0
    got = (out / gen.file_name(2)).read_bytes()
    (_, recs), = gen.plan_records(9, [plan[2]])
    assert got == gen.encode(recs)


def _table_bytes(seed):
    return {n: t.to_pylist() for n, t in tables.tables(seed).items()}


def test_tables_are_deterministic_per_seed():
    a = _table_bytes(5)
    assert a == _table_bytes(5)
    b = _table_bytes(6)
    assert a["lineitem"] != b["lineitem"] and a["documents"] != b["documents"]
    assert a["region"] == b["region"]  # fixed dimension rows


def test_tables_match_the_engines_table_set_and_keys():
    from confluent_example_firehose_spark.schema import TABLE_NAMES

    t = tables.tables(2)
    assert set(t) == set(TABLE_NAMES)
    assert {n: v.num_rows for n, v in t.items()} == tables.ROWS
    li, orders = t["lineitem"].to_pydict(), t["orders"].to_pydict()
    assert set(li["l_orderkey"]) <= set(orders["o_orderkey"])
    assert max(li["l_partkey"]) < tables.ROWS["part"]
    assert max(li["l_suppkey"]) < tables.ROWS["supplier"]
    assert max(orders["o_custkey"]) < tables.ROWS["customer"]
    assert 1 <= min(li["l_linenumber"]) and max(li["l_linenumber"]) <= 7
    docs = t["documents"].to_pydict()
    assert docs["n_chars"] == [len(x) for x in docs["text"]]
    dups = [x for x in docs["text"] if x.endswith(" dup")]
    assert dups and all(x[: -len(" dup")] in docs["text"] for x in dups)


# -- result line -----------------------------------------------------------------


def _run(trace):
    import argparse

    a = argparse.Namespace(seed=1, seconds=1.0, work="/nonexistent", trace=trace,
                           workload="firehose_push", t_start=0.0)
    return workloads.Run(a)


def test_untraced_result_carries_every_end_to_end_metric():
    run = _run(0)
    for m in workloads.SPEC["end_to_end"]:
        run.e2e[m["name"]] = (1.5, m["unit"])
    run.attempted = 3
    res = run.result()
    assert set(res["metrics"]) == {m["name"] for m in workloads.SPEC["end_to_end"]}
    assert res["correct"] and res["attempted"] == 3


def test_traced_result_carries_every_per_layer_metric():
    run = _run(1)
    run.layer["stream.epochs"] = (4, "count")
    run.problems.append("x: mismatch")
    res = run.result()
    assert set(res["metrics"]) == {m["name"] for m in workloads.SPEC["per_layer"]}
    assert res["metrics"]["stream.epochs"]["value"] == 4
    assert res["metrics"]["catalog.load_table_calls"]["value"] == 0  # not reached
    assert not res["correct"]


# -- replay oracle -------------------------------------------------------------


def _rec(id_, ts, value, user="1", unit="bytes"):
    return {
        "id": id_, "name": "m", "timestamp": ts, "component": "kafka",
        "tags": {"user": user, "unit": unit}, "value": value,
    }


def test_replay_keeps_last_value_by_timestamp_then_id():
    recs = [
        _rec("b", 10, 1.0),
        _rec("a", 11, 2.0),  # later timestamp wins over larger id
        _rec("c", 11, 3.0),  # same timestamp: larger id wins
        _rec("0", 9, 4.0),  # arrives last but is older
        _rec("z", 5, 7.0, user="2"),
    ]
    got = replay.replay_last_values(recs)
    assert got == {'kafka_m{user="1"}': 3.0, 'kafka_m{user="2"}': 7.0}


def test_replay_drops_the_filtered_unit_tag_from_the_key():
    recs = [_rec("a", 1, 1.0, unit="bytes"), _rec("b", 1, 2.0, unit="ms")]
    assert replay.replay_last_values(recs) == {'kafka_m{user="1"}': 2.0}


class _FakeFrame:
    """Enough of a DataFrame for the engine's render function."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def limit(self, _n):
        return self

    def collect(self):
        return self._rows


def test_replay_keys_match_the_engines_exposition_render():
    from confluent_example_firehose_spark.streaming.sinks import to_prometheus_text

    recs = [_rec("a", 1, 2.5), _rec("b", 1, 4.25, user="9")]
    rows = [
        {"name": "m", "series": f"m|user={r['tags']['user']}",
         "component": "kafka", "labels": ["user"],
         "label_values": [r["tags"]["user"]], "last_value": r["value"]}
        for r in recs
    ]
    text = to_prometheus_text(_FakeFrame(rows, list(rows[0])))
    assert replay.parse_exposition(text) == replay.replay_last_values(recs)


def test_diff_states_reports_each_kind_of_mismatch():
    want = {"a": 1.0, "b": 2.0}
    assert replay.diff_states(dict(want), want) == []
    probs = replay.diff_states({"a": 1.5, "c": 3.0}, want)
    assert any("missing series b" in p for p in probs)
    assert any("unexpected series c" in p for p in probs)
    assert any(p.startswith("a: got 1.5") for p in probs)


# -- ingest ledger law ---------------------------------------------------------


def _row(doc, status, dup_of=None, cluster=None):
    return {"doc_id": doc, "status": status, "dup_of": dup_of, "cluster_id": cluster}


def test_ledger_partition_law():
    good = [_row(1, "admitted", cluster=1), _row(2, "duplicate", 1, 1),
            _row(3, "quality_fail")]
    assert workloads.ledger_partition_problems(good, [1, 2, 3]) == []
    assert workloads.ledger_partition_problems(good, [1, 2, 3, 4])  # missing
    assert workloads.ledger_partition_problems(good + [good[0]], [1, 2, 3])
    assert workloads.ledger_partition_problems([_row(1, "kept", cluster=1)], [1])
    assert workloads.ledger_partition_problems([_row(1, "duplicate", cluster=1)], [1])
    assert workloads.ledger_partition_problems([_row(1, "quality_fail", cluster=1)], [1])
