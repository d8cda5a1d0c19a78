"""The benchmark's workloads, run in a child process of `run.py`.

Each workload builds the engine's own pipeline from its public
functions, feeds it from the seeded generator (`gen.py`, a separate
process), checks the output against an oracle, and records
end-to-end metrics (untraced run) or per-layer metrics (traced run).
See README.md for what each workload stresses and why.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import subprocess
import sys
import time
from collections.abc import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import replay  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402
from spans import Tracer  # noqa: E402

# firehose_push: open-loop file stream in three phases. The preroll
# (after set-up, before the measured window) absorbs the measured
# query's first epochs; `lo` is
# light enough that per-epoch fixed costs set freshness, `hi` heavy
# enough that per-record parse/state/render cost does.
PUSH_FILES_PER_PHASE = 220  # >= 200 files, so p95 has >= 10 beyond it
PUSH_PREROLL_S = 4.0
PUSH_LO_RPS = 2_000
PUSH_HI_RPS = 16_000
PUSH_DRAIN_TIMEOUT_S = 30.0

# firehose_pull: a staged backlog drained by the complete-mode memory
# sink while one client scrapes on a fixed schedule (heavy phase), then
# the same scrape schedule against the idle engine (light phase).
PULL_SCRAPE_INTERVAL_S = 0.15
PULL_BACKLOG_RPS = 20_000  # backlog = this x half the run
PULL_FILES = 24
PULL_FILES_PER_EPOCH = 4

STATE_TABLE = "perfbench_state"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


class Run:
    """State of one workload run: its session, tracer and results."""

    def __init__(self, a: argparse.Namespace) -> None:
        self.a = a
        self.seed = a.seed
        self.seconds = a.seconds
        self.work = a.work
        self.tracer = Tracer(a.trace == 1)
        self.spark = None
        self.jvm = None
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.wall: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.gen_proc: subprocess.Popen | None = None
        self.spins: list[float] = []
        self.spin_cpu = 0.0
        self.canary()

    def dir(self, name: str) -> str:
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p

    # -- processes ---------------------------------------------------

    def start_gen(self, mode: str, plan: list[dict] | None, out_dir: str) -> None:
        self.ctl = self.dir("ctl")
        self.gen_report = os.path.join(self.work, "gen-report.json")
        args = [sys.executable, os.path.join(HERE, "gen.py"), mode,
                "--seed", str(self.seed), "--out", out_dir,
                "--report", self.gen_report, "--ctl", self.ctl]
        if plan is not None:
            plan_path = os.path.join(self.work, "plan.json")
            with open(plan_path, "w") as f:
                json.dump(plan, f)
            args += ["--plan", plan_path]
        self.gen_proc = subprocess.Popen(args)

    def wait_marker(self, name: str, timeout: float = 120.0) -> None:
        path = os.path.join(self.ctl, name)
        end = time.monotonic() + timeout
        while not os.path.exists(path):
            if self.gen_proc.poll() is not None or time.monotonic() > end:
                raise RuntimeError(f"generator never wrote {name!r}")
            time.sleep(0.005)

    def signal(self, name: str, payload: dict | None = None) -> None:
        gen.write_atomic(self.ctl, name, json.dumps(payload or {}).encode())

    def join_gen(self, timeout: float) -> dict:
        rc = self.gen_proc.wait(timeout=timeout)
        if rc != 0:
            raise RuntimeError(f"generator exited {rc}")
        with open(self.gen_report) as f:
            return json.load(f)

    def session(self, traced: tuple[str, ...]):
        """Start the engine's session; a traced run then wraps the
        `traced` layers (see `Tracer.install`)."""
        from confluent_example_firehose_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.a.workload}")
        self.layer["session.get_spark_s"] = (time.perf_counter() - t, "s")
        self.gateway = self.spark.sparkContext._gateway
        self.jvm = self.gateway.proc
        self.tracer.install(traced)
        return self.spark

    def close(self) -> None:
        """Stop the session and wait for the JVM and generator to end."""
        if self.spark is not None:
            self.spark.stop()
            self.gateway.shutdown()
            self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            self.jvm.wait(timeout=60)
        if self.gen_proc is not None and self.gen_proc.poll() is None:
            self.gen_proc.kill()
            self.gen_proc.wait()

    def canary(self) -> float:
        """Sample the machine's speed (`stats.spin_ms`) at process start,
        set-up end and run end; the samples' own CPU time is kept out of
        `cpu_s`."""
        t = time.process_time()
        self.spins.append(stats.spin_ms())
        self.spin_cpu += time.process_time() - t
        return self.spins[-1]

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process (the Spark driver) and
        the JVM, less the canary's."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        with open(f"/proc/{self.jvm.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return ru.ru_utime + ru.ru_stime + jvm - self.spin_cpu

    def setup_done(self) -> None:
        """End of set-up: `setup_s` is the CPU time the driver process and
        the JVM spent since process start (JVM start, `get_spark`,
        warm-up); the wall time it took is `wall.setup_s`."""
        self.e2e["setup_s"] = (self.cpu_s(), "s")
        self.wall["setup_s"] = (time.monotonic() - self.a.t_start, "s")
        self.canary()

    def proc_metrics(self) -> None:
        self.layer["proc.cpu_s"] = (self.cpu_s(), "s")
        self.layer["canary.spin_ms"] = (stats.median(self.spins), "ms")
        with open(f"/proc/{self.jvm.pid}/status") as f:
            hwm = next(ln for ln in f if ln.startswith("VmHWM:"))
        self.layer["proc.jvm_rss_peak_mb"] = (int(hwm.split()[1]) / 1024, "MB")

    # -- results -----------------------------------------------------

    def check(self, problems: list[str], what: str) -> None:
        for p in problems:
            self.problems.append(f"{what}: {p}")

    def result(self) -> dict:
        """The result line: every end-to-end metric of BENCHMARK.json
        (untraced), or every per-layer one (traced), where a layer this
        workload never reaches reads 0."""
        if self.tracer.enabled:
            got = dict(self.layer)
            for k, v in self.e2e.items():
                got[f"traced.{k}"] = v
            for k, v in self.wall.items():
                got[f"wall.{k}"] = v
            got["ops"] = (self.attempted, "count")
            got["failed_ops"] = (self.failed, "count")
            got["trace.spans"] = (len(self.tracer.spans), "count")
            metrics = {m["name"]: got.get(m["name"], (0, m["unit"]))
                       for m in SPEC["per_layer"]}
        else:
            metrics = {m["name"]: self.e2e[m["name"]] for m in SPEC["end_to_end"]}
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


# -- shared firehose pieces -----------------------------------------------


def firehose_stream(spark, src_dir: str, max_files: int | None = None):
    """The reference's consume path on a file source: Kafka value bytes
    -> parse_metrics -> metric_latest_value_stream (keyed last value)."""
    from confluent_example_firehose_spark.operators.firehose import parse_metrics
    from confluent_example_firehose_spark.streaming.pipeline import (
        metric_latest_value_stream,
    )

    reader = spark.readStream
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    return metric_latest_value_stream(parse_metrics(reader.text(src_dir)))


def warm_files(
    run: Run, out_dir: str, n_files: int, n_records: int
) -> Callable[[], None]:
    """Write warm-up input from a seed stream disjoint from the
    measured one; returns the writer for further files."""
    plan = [{"seq": k, "due": 0.0, "n": n_records} for k in range(n_files)]
    it = gen.plan_records(-1 - run.seed, plan)

    def write_next() -> None:
        e, recs = next(it)
        gen.write_atomic(out_dir, gen.file_name(e["seq"]), gen.encode(recs))

    return write_next


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def stream_layers(run: Run, progress: list[dict]) -> None:
    eps = [p for p in progress if p.get("numInputRows", 0) > 0]
    print("perfbench: epochs (rows, ms): " + " ".join(
        f"{p['numInputRows']}:{p['durationMs'].get('triggerExecution', 0)}"
        for p in eps), file=sys.stderr)
    run.layer["stream.epochs"] = (len(eps), "count")

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in eps]

    run.layer["stream.rows_per_epoch_mean"] = (
        mean([p["numInputRows"] for p in eps]), "count")
    for key, name in (
        ("triggerExecution", "trigger"),
        ("queryPlanning", "query_planning"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("latestOffset", "latest_offset"),
        ("addBatch", "add_batch"),
    ):
        run.layer[f"stream.{name}_ms_mean"] = (mean(dur(key)), "ms")
    ops = [p["stateOperators"][0] for p in eps if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    run.layer["state.rows_total"] = (last.get("numRowsTotal", 0), "count")
    run.layer["state.memory_bytes"] = (last.get("memoryUsedBytes", 0), "bytes")
    run.layer["state.commit_ms_mean"] = (
        mean([o.get("commitTimeMs", 0) for o in ops]), "ms")
    run.layer["state.rows_updated_mean"] = (
        mean([o.get("numRowsUpdated", 0) for o in ops]), "count")


def render_layers(run: Run, since: float) -> None:
    """Render spans of the measured window (opened after `since`); a
    traced run only."""
    t = run.tracer
    if not t.enabled:
        return
    durs = [(s[2] - s[1]) * 1000 for s in t.closed("sinks.render", since)]
    run.layer["sinks.render_calls"] = (len(durs), "count")
    run.layer["sinks.render_ms_p50"] = (stats.median(durs), "ms")
    run.layer["sinks.render_s"] = (t.self_time("sinks.render", since), "s")
    run.layer["sinks.render_spark_s"] = (
        t.child_time("sinks.render", "spark.collect", since), "s")
    run.layer["sinks.render_bytes"] = (
        t.attr_sum("sinks.render", "bytes", since), "bytes")
    run.layer["sinks.series_rendered"] = (
        t.attr_sum("sinks.render", "series", since), "count")


def latency_metrics(run: Run, prefix: str, samples_ms: list[float]) -> None:
    """{prefix}_p50_ms and {prefix}_tail_ms, the tail at the highest
    percentile the sample count supports (fixed by the workload, unless
    operations failed)."""
    p = stats.tail_percentile(len(samples_ms)) or 50.0
    if not samples_ms:
        samples_ms = [0.0]
    run.wall[f"{prefix}_p50_ms"] = (stats.percentile(samples_ms, 50), "ms")
    run.wall[f"{prefix}_tail_ms"] = (stats.percentile(samples_ms, p), "ms")
    run.detail[f"{prefix}_tail_percentile"] = (p, "pct")
    run.detail[f"{prefix}_samples"] = (len(samples_ms), "count")


def expected_state(seed: int, plan: list[dict]) -> dict[str, float]:
    return replay.replay_last_values(
        r for _, recs in gen.plan_records(seed, plan) for r in recs
    )


# -- firehose_push ---------------------------------------------------------


def push_plan(seconds: float) -> tuple[list[dict], dict[str, range]]:
    phase_s = seconds / 2
    interval = phase_s / PUSH_FILES_PER_PHASE
    n_pre = math.ceil(PUSH_PREROLL_S / interval)
    plan, phases, seq = [], {}, 0
    for name, n_files, rps in (
        ("pre", n_pre, PUSH_LO_RPS),
        ("lo", PUSH_FILES_PER_PHASE, PUSH_LO_RPS),
        ("hi", PUSH_FILES_PER_PHASE, PUSH_HI_RPS),
    ):
        per_file = max(1, round(rps * interval))
        phases[name] = range(seq, seq + n_files)
        for _ in range(n_files):
            plan.append({"seq": seq, "due": seq * interval, "n": per_file})
            seq += 1
    return plan, phases


def heartbeat_of(text: str) -> int:
    i = text.find(gen.HEARTBEAT_KEY + " ")
    if i < 0:
        return -1
    j = text.find("\n", i)
    return int(float(text[i + len(gen.HEARTBEAT_KEY) + 1 : j]))


def firehose_push(run: Run) -> None:
    from confluent_example_firehose_spark.streaming import sinks

    plan, phases = push_plan(run.seconds)
    src = run.dir("src")
    run.start_gen("push", plan, src)  # encodes while the JVM starts
    spark = run.session(("render",))

    # Warm-up: the same pipeline on its own input, first (codegen)
    # epoch plus one steady epoch.
    warm = run.dir("warm")
    write_warm = warm_files(run, warm, 3, plan[-1]["n"] * 20)
    write_warm()
    write_warm()
    with run.tracer.span("warmup"):
        q = sinks.push_sink(firehose_stream(spark, warm), lambda t, e: None,
                            run.dir("warm-chk"), "perfbench_warm")
        q.processAllAvailable()
        write_warm()
        q.processAllAvailable()
        q.stop()
    run.setup_done()

    pushes: list[tuple[float, int, str]] = []

    def capture(text: str, epoch_id: int) -> None:
        pushes.append((time.monotonic(), epoch_id, text))

    q = sinks.push_sink(firehose_stream(spark, src), capture,
                        run.dir("chk"), "perfbench_push")
    run.wait_marker("staged")
    t0 = time.monotonic() + 0.05
    run.signal("go", {"t0": t0})
    interval = plan[1]["due"]
    # The preroll absorbs the measured query's first epochs; the
    # measured window starts after it.
    gen.sleep_until(t0 + len(phases["pre"]) * interval)
    cpu0 = run.cpu_s()
    since = time.perf_counter()
    rep = run.join_gen(timeout=run.seconds + 60)
    last = plan[-1]["seq"]
    end = time.monotonic() + PUSH_DRAIN_TIMEOUT_S
    while time.monotonic() < end and not (
        pushes and heartbeat_of(pushes[-1][2]) >= last
    ):
        time.sleep(0.02)
    cpu = run.cpu_s() - cpu0
    progress = progress_of(q)
    q.stop()

    hbs = [(t, heartbeat_of(text)) for t, _, text in pushes]
    written = {seq: due for seq, due, _ in rep["files"]}
    fresh, missed = stats.freshness(written, hbs)
    run.attempted = len(plan)
    run.failed = len(missed) + (len(plan) - len(written))
    for name in ("lo", "hi"):
        ms = [fresh[s] * 1000 for s in phases[name] if s in fresh]
        latency_metrics(run, name, ms)

    # Processing rate of the hi phase: rows over trigger time of the
    # epochs whose push names a hi-phase file.
    hb_by_epoch = {e: heartbeat_of(text) for _, e, text in pushes}
    hi0 = phases["hi"][0]
    hi_eps = [p for p in progress
              if hb_by_epoch.get(p["batchId"], -1) >= hi0 and p["numInputRows"]]
    busy = sum(p["durationMs"]["triggerExecution"] for p in hi_eps) / 1000
    rows = sum(p["numInputRows"] for p in hi_eps)
    run.wall["rate_rps"] = (rows / busy if busy else 0.0, "1/s")
    measured = sum(plan[s]["n"] + 1 for s in (*phases["lo"], *phases["hi"]))
    run.e2e["cpu_ms_per_op"] = (cpu * 1e6 / measured, "ms")

    got: dict[str, float] = {}
    for _, _, text in pushes:
        got.update(replay.parse_exposition(text))
    run.check(replay.diff_states(got, expected_state(run.seed, plan)),
              "final pushed state vs replay")

    lo0 = phases["lo"][0]
    stream_layers(run, [p for p in progress
                        if hb_by_epoch.get(p["batchId"], -1) >= lo0])
    render_layers(run, since)
    run.layer["gen.records"] = (rep["records"], "count")
    run.layer["gen.late_ms_max"] = (rep["late_ms_max"], "ms")


# -- firehose_pull ---------------------------------------------------------


def pull_plan(seconds: float) -> list[dict]:
    n = round(PULL_BACKLOG_RPS * seconds / 2 / PULL_FILES)
    return [{"seq": k, "due": 0.0, "n": n} for k in range(PULL_FILES)]


def firehose_pull(run: Run) -> None:
    from confluent_example_firehose_spark.streaming import sinks

    plan = pull_plan(run.seconds)
    src = run.dir("src")
    run.start_gen("pull", plan, src)  # stages the backlog meanwhile
    spark = run.session(("render",))

    warm = run.dir("warm")
    write_warm = warm_files(run, warm, 2, plan[0]["n"])
    write_warm()
    with run.tracer.span("warmup"):
        q = sinks.pull_sink(firehose_stream(spark, warm), "perfbench_warm")
        q.processAllAvailable()
        write_warm()
        q.processAllAvailable()
        for _ in range(3):
            sinks.to_prometheus_text(spark.table("perfbench_warm"))
        q.stop()
    run.setup_done()

    def render() -> str:
        return sinks.to_prometheus_text(spark.table(STATE_TABLE))

    run.wait_marker("staged")  # the backlog is in place before the clock
    n_scrapes = round(run.seconds / 2 / PULL_SCRAPE_INTERVAL_S)
    t0 = time.monotonic()
    cpu0 = run.cpu_s()
    since = time.perf_counter()
    q = sinks.pull_sink(
        firehose_stream(spark, src, max_files=PULL_FILES_PER_EPOCH), STATE_TABLE
    )
    server = sinks.ScrapeServer(render)
    try:
        run.signal("go", {
            "t0": t0, "url": f"http://{server.host}:{server.port}/metrics",
            "n": n_scrapes, "interval": PULL_SCRAPE_INTERVAL_S,
        })
        q.processAllAvailable()
        drain_s = time.monotonic() - t0
        run.signal("drained")
        rep = run.join_gen(timeout=run.seconds + 90)
        cpu = run.cpu_s() - cpu0
        final = sinks.to_prometheus_text(spark.table(STATE_TABLE))
    finally:
        server.close()
    progress = progress_of(q)
    q.stop()

    records = sum(e["n"] + 1 for e in plan)
    latency_metrics(run, "lo", rep["light"]["lat_ms"])
    latency_metrics(run, "hi", rep["heavy"]["lat_ms"])
    run.wall["rate_rps"] = (records / drain_s, "1/s")
    run.e2e["cpu_ms_per_op"] = (cpu * 1e6 / records, "ms")
    errors = rep["heavy"]["errors"] + rep["light"]["errors"]
    run.attempted = 2 * n_scrapes + 1
    run.failed = errors
    run.check(replay.diff_states(replay.parse_exposition(final),
                                 expected_state(run.seed, plan)),
              "final scrape vs replay")

    stream_layers(run, progress)
    render_layers(run, since)
    run.layer["gen.records"] = (rep["records"], "count")
    run.layer["gen.late_ms_max"] = (
        max(rep["heavy"]["late_ms_max"], rep["light"]["late_ms_max"]), "ms")
    run.detail["scrape_bytes"] = (rep["light"]["bytes"], "bytes")


# -- batch_headline --------------------------------------------------------


def _job_count(spark) -> int:
    """Highest Spark job id so far (the engine sets no job groups)."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1) + 1


def result_hash(df) -> str:
    """Order-insensitive hash of a result, as tools/check_oracle.py
    computes it for the DuckDB oracles."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import table_hash

    return table_hash([tuple(r) for r in df.collect()], df.columns)


def batch_headline(run: Run) -> None:
    """The 18 `bench.HEADLINE` queries over the seeded tables of
    `tables.py`, one client, closed loop.

    Warm-up is one pass that collects and hashes every result, while the
    generator computes each DuckDB oracle's hash over the same tables,
    then one untimed pass of the noop writes the timed passes make (so
    that their code is compiled before the clock starts). Timed passes
    follow for --seconds (at least two), each in an order
    drawn from the seed, and materialize every result with a noop write
    (`count()` would let Catalyst prune columns)."""
    import random

    import bench
    from confluent_example_firehose_spark import caching, flagship, registry

    tbl = run.dir("tables")
    run.start_gen("tables", None, tbl)  # writes while the JVM starts
    spark = run.session(("catalog",))
    specs = registry.all_queries()
    fns = {n: specs[n].fn for n in bench.HEADLINE if n in specs}
    fns["q_flagship"] = lambda s, d: flagship.flagship(s, d)

    def release() -> None:
        caching.drain_pending()
        spark.catalog.clearCache()

    run.wait_marker("staged")
    got: dict[str, str] = {}
    with run.tracer.span("warmup"):
        for name in bench.HEADLINE:
            got[name] = result_hash(fns[name](spark, tbl))
            release()
        for name in bench.HEADLINE:
            fns[name](spark, tbl).write.format("noop").mode("overwrite").save()
            release()
    run.setup_done()

    rng = random.Random(f"order-{run.seed}")
    walls: dict[str, list[float]] = {n: [] for n in bench.HEADLINE}
    build = dict.fromkeys(bench.HEADLINE, 0.0)
    execs = dict.fromkeys(bench.HEADLINE, 0.0)
    jobs = dict.fromkeys(bench.HEADLINE, 0)
    since = time.perf_counter()
    cpu0 = run.cpu_s()
    t_end = time.monotonic() + run.seconds
    passes = 0
    while passes < 2 or time.monotonic() < t_end:
        order = list(bench.HEADLINE)
        rng.shuffle(order)
        for name in order:
            j0 = _job_count(spark)
            t0 = time.perf_counter()
            with run.tracer.span("batch.build"):
                df = fns[name](spark, tbl)
            t1 = time.perf_counter()
            with run.tracer.span("batch.exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            jobs[name] += _job_count(spark) - j0
            build[name] += t1 - t0
            execs[name] += t2 - t1
            walls[name].append(t2 - t0)
            release()
        passes += 1
    cpu = run.cpu_s() - cpu0
    run.attempted = passes * len(bench.HEADLINE)
    run.e2e["cpu_ms_per_op"] = (cpu * 1000 / run.attempted, "ms")
    run.wall["batch_total_s"] = (
        sum(stats.median(w) for w in walls.values()), "s")

    run.layer["batch.build_s"] = (sum(build.values()) / passes, "s")
    run.layer["batch.exec_s"] = (sum(execs.values()) / passes, "s")
    for name in bench.HEADLINE:
        run.layer[f"batch.{name}.build_s"] = (build[name] / passes, "s")
        run.layer[f"batch.{name}.exec_s"] = (execs[name] / passes, "s")
        run.layer[f"batch.{name}.jobs"] = (jobs[name] / passes, "count")
    catalog_layers(run, since, passes)

    rep = run.join_gen(timeout=120)
    for name in bench.HEADLINE:
        if got[name] != rep["hashes"][name]:
            run.problems.append(
                f"{name}: result hash {got[name]} != oracle {rep['hashes'][name]}")
    run.layer["gen.records"] = (rep["records"], "count")


def catalog_layers(run: Run, since: float, runs: int) -> None:
    """Catalog and cache-release time per timed run (a traced run only)."""
    t = run.tracer
    if not t.enabled:
        return
    run.layer["catalog.load_table_calls"] = (
        t.count("catalog.load_table", since) / runs, "count")
    run.layer["catalog.load_table_s"] = (
        t.self_time("catalog.load_table", since) / runs, "s")
    run.layer["caching.drain_pending_s"] = (
        t.total("caching.drain_pending", since) / runs, "s")


# -- ingest_stream (by hand; not in BENCHMARK.json) -------------------------
#
# Reads the engine's own read-only synthetic tables, so the seed cannot
# vary its input; see README.md for why BENCHMARK.json does not list it.


def table_dirs() -> tuple[str, str]:
    """(timed, check) table directories: $SPARK_GRAFT_SF_DIR, by default
    sf0.1 next to the engine's default tables, and sf0.01 beside it."""
    from confluent_example_firehose_spark.catalog import DEFAULT_SF_DIR

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.1"),
    )
    check = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for d in (sf_dir, check):
        if not os.path.isdir(d):
            raise RuntimeError(f"no tables at {d}")
    return sf_dir, check


LEDGER_STATUSES = {"admitted", "duplicate", "quality_fail"}


def ledger_partition_problems(rows, doc_ids) -> list[str]:
    """The ingest ledger's partition law: every document arrives exactly
    once, with a valid status and the columns that status implies."""
    probs = []
    seen: dict[int, int] = {}
    for r in rows:
        seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
        st = r["status"]
        if st not in LEDGER_STATUSES:
            probs.append(f"doc {r['doc_id']}: bad status {st!r}")
        elif (st == "duplicate") != (r["dup_of"] is not None):
            probs.append(f"doc {r['doc_id']}: {st} with dup_of={r['dup_of']}")
        elif (st == "quality_fail") != (r["cluster_id"] is None):
            probs.append(f"doc {r['doc_id']}: {st} with cluster_id={r['cluster_id']}")
    twice = [d for d, n in seen.items() if n != 1]
    if twice:
        probs.append(f"{len(twice)} docs in the ledger more than once")
    missing = set(doc_ids) - set(seen)
    if missing:
        probs.append(f"{len(missing)} docs missing from the ledger")
    return probs[:5]


def ingest_stream(run: Run) -> None:
    from pyspark.sql.streaming import StreamingQueryListener

    from confluent_example_firehose_spark import caching, catalog, registry

    sf_dir, check_dir = table_dirs()
    spark = run.session(("catalog", "kernels"))
    spec = registry.all_queries()["q_ingest_stream"]
    epochs: list[float] = []

    class Epochs(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 (pyspark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            epochs.append(event.progress.durationMs.get("triggerExecution", 0) / 1000)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    with run.tracer.span("warmup"):
        got = result_hash(spec.fn(spark, check_dir))
        want = tables.oracle_hashes(check_dir, ["q_ingest_stream"])
        if got != want["q_ingest_stream"]:
            run.problems.append(f"q_ingest_stream@sf0.01: result hash {got} "
                                f"!= oracle {want['q_ingest_stream']}")
        caching.drain_pending()
        spark.catalog.clearCache()
    run.setup_done()
    since = time.perf_counter()

    docs = [r[0] for r in catalog.load_table(spark, sf_dir, "documents")
            .select("doc_id").collect()]
    listener = Epochs()
    spark.streams.addListener(listener)
    walls = []
    j0 = _job_count(spark)
    cpu0 = run.cpu_s()
    t_end = time.monotonic() + run.seconds
    while not walls or time.monotonic() < t_end:
        t = time.perf_counter()
        rows = spec.fn(spark, sf_dir).collect()
        walls.append(time.perf_counter() - t)
        run.check(ledger_partition_problems(rows, docs), "ingest ledger")
        caching.drain_pending()
        spark.catalog.clearCache()
    spark.streams.removeListener(listener)
    run.attempted = len(walls)
    run.e2e["cpu_ms_per_op"] = ((run.cpu_s() - cpu0) * 1000 / len(walls), "ms")
    run.wall["ingest_wall_s"] = (stats.median(walls), "s")
    t = run.tracer
    run.layer["ingest.epochs"] = (len(epochs) / len(walls), "count")
    run.layer["ingest.epoch_s_max"] = (max(epochs, default=0.0), "s")
    run.layer["ingest.spark_jobs"] = ((_job_count(spark) - j0) / len(walls), "count")
    kernels = (
        "curation.connected_components",
        "dedup_stream.selective_state_rewrite",
        "sketch_stream.stage_key_batches",
    )
    for span in kernels if t.enabled else ():
        run.layer[f"{span}_s"] = (t.self_time(span, since) / len(walls), "s")
        run.layer[f"{span}_calls"] = (t.count(span, since) / len(walls), "count")
    catalog_layers(run, since, len(walls))


WORKLOADS = {
    "firehose_push": firehose_push,
    "firehose_pull": firehose_pull,
    "batch_headline": batch_headline,
    "ingest_stream": ingest_stream,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t-start", dest="t_start", type=float, required=True)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        print(f"perfbench: workload {a.workload} is not available", file=sys.stderr)
        return 2
    run = Run(a)
    try:
        WORKLOADS[a.workload](run)
        run.canary()
        run.proc_metrics()
    finally:
        run.tracer.uninstall()
        run.close()
    if run.tracer.enabled:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        run.tracer.dump(os.path.join(out, f"{a.workload}-seed{a.seed}-spans.jsonl"))
    for p in run.problems:
        print(f"perfbench: INCORRECT {p}", file=sys.stderr)
    for i, v in enumerate(run.spins):
        run.detail[f"canary.spin_ms_{i}"] = (v, "ms")
    shown = {**run.e2e, **run.layer, **run.detail,
             **{f"wall.{k}": v for k, v in run.wall.items()}}
    for k in sorted(shown):
        v, u = shown[k]
        print(f"  {k:<36} {v:>14.4f} {u}", file=sys.stderr)
    res = run.result()
    with open(a.result + ".tmp", "w") as f:
        json.dump(res, f)
    os.rename(a.result + ".tmp", a.result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
