"""Seeded load generator for the benchmark's workloads.

Runs as its own process, separate from the engine under test. The
firehose modes are open loop: every action has a due time fixed before
the run starts, and a slow engine never delays the schedule (a late
generator is reported, not hidden).

Records are `METRIC_SCHEMA` JSON objects, one per line, in files the
engine reads with `spark.readStream.text(dir)` (the `value` column
stands in for the Kafka value bytes). Each file is written under a
dot-prefixed name and renamed into place, so the file source never
lists a partial file. Each file ends with one heartbeat record whose
value is the file's sequence number, so a push names the newest file
it covers.

Modes:

    gen.py push --seed N --out DIR --plan PLAN.json --report R.json --ctl DIR
        encode the files of PLAN, then write each on schedule
    gen.py pull --seed N --out DIR --plan PLAN.json --report R.json --ctl DIR
        stage the backlog of PLAN, then scrape the engine on schedule
    gen.py tables --seed N --out DIR --report R.json --ctl DIR
        write the batch tables (`tables.py`), then compute the DuckDB
        oracle hash of every headline query over them

The firehose modes start with a handshake through marker files in
--ctl: the generator writes `staged` when its input is ready, and the
engine side answers with `go`, a JSON object holding the monotonic
start time t0 (CLOCK_MONOTONIC is shared by all processes of the
machine). The tables mode writes only `staged`.

The pure functions (`series_table`, `file_records`, ...) are what the
benchmark's replay oracle and tests import; the same seed gives the
same records.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import urllib.request

N_SERIES = 5_000
ZIPF_S = 1.1
T_BASE = 1_700_000_000  # logical epoch seconds of file 0
HEARTBEAT_NAME = "heartbeat"
HEARTBEAT_COMPONENT = "perfbench"
HEARTBEAT_KEY = 'perfbench_heartbeat{src="gen"}'

_NAMES = [
    "request_bytes_total", "response_bytes_total", "request_count",
    "request_latency_ms", "active_connections", "partition_count",
    "retained_bytes", "produce_throttle_ms", "fetch_throttle_ms",
    "consumer_lag", "connector_task_count", "records_in_total",
    "records_out_total", "schema_count", "query_count",
    "error_total", "cpu_percent", "heap_used_bytes", "disk_used_bytes",
    "network_io_bytes",
]
_COMPONENTS = ["kafka", "connect", "ksql", "schema_registry"]
_REQUEST_TYPES = ["Produce", "Fetch", "Metadata", "ApiVersions", "OffsetCommit"]


def series_table(seed: int, n_series: int = N_SERIES) -> list[tuple]:
    """(name, component, tags) per series; the user tag makes every
    series key distinct. The seed permutes which series are hot."""
    rng = random.Random(f"series-{seed}")
    out = []
    for i in range(n_series):
        ni = i % len(_NAMES)
        tags = {
            "tenant": f"lkc-{rng.randrange(100):05d}",
            "source": f"kafka-{i % 7}",
            "request_type": _REQUEST_TYPES[i % len(_REQUEST_TYPES)],
            "user": str(i),
            "unit": "bytes",  # filtered from labels (FILTERED_TAGS)
        }
        out.append((_NAMES[ni], _COMPONENTS[ni % len(_COMPONENTS)], tags))
    rng.shuffle(out)  # rank r (Zipf weight 1/r^s) -> a seeded series
    return out


def zipf_cum_weights(n: int, s: float = ZIPF_S) -> list[float]:
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        out.append(acc)
    return out


def heartbeat(seq: int) -> dict:
    return {
        "id": f"{seq:07d}-hb",
        "name": HEARTBEAT_NAME,
        "timestamp": T_BASE + seq,
        "component": HEARTBEAT_COMPONENT,
        "tags": {"src": "gen"},
        "value": float(seq),
        "window": {"from": T_BASE + seq - 60, "to": T_BASE + seq, "interval": 60},
    }


def file_records(
    seed: int, seq: int, n_records: int, series: list[tuple], cum: list[float]
) -> list[dict]:
    """The records of file `seq`: Zipf-skewed series picks, then the
    heartbeat. Logical time is one second per file; ids increase in
    write order, so (timestamp, id) is the arrival order."""
    rng = random.Random(f"file-{seed}-{seq}")
    ts = T_BASE + seq
    picks = rng.choices(range(len(series)), cum_weights=cum, k=n_records)
    out = []
    for j, k in enumerate(picks):
        name, component, tags = series[k]
        out.append(
            {
                "id": f"{seq:07d}-{j:06d}",
                "name": name,
                "timestamp": ts,
                "component": component,
                "tags": tags,
                "value": rng.randrange(10**7) / 100,
                "window": {"from": ts - 60, "to": ts, "interval": 60},
            }
        )
    out.append(heartbeat(seq))
    return out


def plan_records(seed: int, plan: list[dict]):
    """Yield (plan entry, records) for every file of a plan."""
    series = series_table(seed)
    cum = zipf_cum_weights(len(series))
    for entry in plan:
        yield entry, file_records(seed, entry["seq"], entry["n"], series, cum)


def encode(records: list[dict]) -> bytes:
    """Newline-delimited JSON, byte-identical to json.dumps per record;
    the per-series parts are encoded once (a backlog is ~10^5 records)."""
    static: dict[int, tuple[str, str, str]] = {}
    lines = []
    for r in records:
        tags = r["tags"]
        st = static.get(id(tags))
        if st is None:
            st = static[id(tags)] = (
                json.dumps(r["name"]), json.dumps(r["component"]),
                json.dumps(tags),
            )
        w = r["window"]
        lines.append(
            f'{{"id": "{r["id"]}", "name": {st[0]}, '
            f'"timestamp": {r["timestamp"]}, "component": {st[1]}, '
            f'"tags": {st[2]}, "value": {r["value"]!r}, '
            f'"window": {{"from": {w["from"]}, "to": {w["to"]}, '
            f'"interval": {w["interval"]}}}}}\n'
        )
    return "".join(lines).encode()


def file_name(seq: int) -> str:
    return f"part-{seq:07d}.json"


def write_atomic(out_dir: str, name: str, data: bytes) -> None:
    tmp = os.path.join(out_dir, "." + name + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(out_dir, name))


def sleep_until(t: float) -> None:
    while True:
        d = t - time.monotonic()
        if d <= 0:
            return
        time.sleep(min(d, 0.05))


def _handshake(ctl: str) -> dict:
    write_atomic(ctl, "staged", b"")
    if not _wait_for(os.path.join(ctl, "go"), time.monotonic() + 170):
        raise SystemExit("gen: no go signal")
    with open(os.path.join(ctl, "go")) as f:
        return json.load(f)


def run_push(seed: int, out_dir: str, plan: list[dict], ctl: str) -> dict:
    """Write each planned file at t0 + its offset. Everything is
    encoded before the handshake, so the schedule pays only write +
    rename."""
    payloads = [(e, encode(recs)) for e, recs in plan_records(seed, plan)]
    t0 = _handshake(ctl)["t0"]
    written, late_max, n_rec, errors = [], 0.0, 0, 0
    for e, data in payloads:
        due = t0 + e["due"]
        sleep_until(due)
        try:
            write_atomic(out_dir, file_name(e["seq"]), data)
        except OSError as exc:
            print(f"gen: write of file {e['seq']} failed: {exc}", file=sys.stderr)
            errors += 1
            continue
        now = time.monotonic()
        late_max = max(late_max, now - due)
        written.append([e["seq"], due, now])
        n_rec += e["n"] + 1
    return {
        "files": written,
        "records": n_rec,
        "late_ms_max": late_max * 1000,
        "errors": errors,
    }


def _wait_for(path: str, deadline: float) -> bool:
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.005)
    return True


def _scrape_phase(url: str, t0: float, n: int, interval: float) -> dict:
    """One client, fixed schedule: scrape k is due at t0 + k*interval
    and its latency runs from that due time, so a slow scrape also
    delays (and is charged to) the ones queued behind it."""
    lat, errors, last_body, late_max = [], 0, None, 0.0
    for k in range(n):
        due = t0 + k * interval
        sleep_until(due)
        late_max = max(late_max, time.monotonic() - due)
        try:
            with urllib.request.urlopen(url, timeout=30) as resp:
                body = resp.read()
        except Exception as exc:  # a failed scrape is a failed op
            print(f"gen: scrape {k} failed: {exc}", file=sys.stderr)
            errors += 1
            continue
        lat.append((time.monotonic() - due) * 1000)
        last_body = body
    return {
        "lat_ms": lat,
        "errors": errors,
        "late_ms_max": late_max * 1000,
        "bytes": len(last_body) if last_body is not None else 0,
    }


def run_pull(seed: int, out_dir: str, plan: list[dict], ctl: str) -> dict:
    """Stage the backlog, then scrape in two phases.

    `go` carries {"t0", "url", "n", "interval"}: the heavy phase
    starts at t0, while the engine drains the backlog. The engine side
    writes the marker `drained` after the drain; the light phase (same
    n and interval) then starts on an idle engine.
    """
    n_rec = 0
    for e, recs in plan_records(seed, plan):
        write_atomic(out_dir, file_name(e["seq"]), encode(recs))
        n_rec += len(recs)
    go = _handshake(ctl)
    heavy = _scrape_phase(go["url"], go["t0"], go["n"], go["interval"])
    if not _wait_for(os.path.join(ctl, "drained"), time.monotonic() + 170):
        raise SystemExit("gen: no drained signal")
    light = _scrape_phase(
        go["url"], time.monotonic() + 0.05, go["n"], go["interval"]
    )
    return {"records": n_rec, "heavy": heavy, "light": light}


def run_tables(seed: int, out_dir: str, ctl: str) -> dict:
    """Write the tables and mark them `staged` (the engine may read them
    from then on), then compute the oracle hashes while it warms up."""
    import tables

    rows = tables.write_tables(seed, out_dir)
    write_atomic(ctl, "staged", b"")
    return {"records": rows, "hashes": tables.oracle_hashes(out_dir)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=["push", "pull", "tables"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--plan")
    ap.add_argument("--report", required=True)
    ap.add_argument("--ctl", required=True)
    a = ap.parse_args(argv)
    if a.mode == "tables":
        rep = run_tables(a.seed, a.out, a.ctl)
    else:
        with open(a.plan) as f:
            plan = json.load(f)
        run = run_push if a.mode == "push" else run_pull
        rep = run(a.seed, a.out, plan, a.ctl)
    tmp = a.report + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rep, f)
    os.rename(tmp, a.report)
    return 0


if __name__ == "__main__":
    sys.exit(main())
