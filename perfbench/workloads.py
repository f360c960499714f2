"""The two workloads.  Each takes a :class:`Run` and returns a
:class:`Result`; ``run.py`` owns the process environment and the output.

- ``stream``: the reference pipeline, ``parse_user_events`` →
  ``stream_grain_fanout`` → memory sink, in two loops that share one JVM and
  one warm-up (they run the same plan):

  * replay, a closed loop with one query: a seeded JSONL wire dump is
    replayed with ``Trigger.AvailableNow``, one file per micro-batch, again
    and again for ``--seconds`` (whole replays, at least two).  Per-event
    work dominates.
  * live, an open loop: a generator thread renames one file into the
    watched directory every ``LIVE_INTERVAL_S`` at a fixed event rate for
    ``--seconds``, whether or not the query keeps up, under a processing-time
    trigger.  Small batches make per-micro-batch fixed costs dominate.
    Latency runs from a file's due time to the commit of the micro-batch
    that read it.

- ``batch_mix``: closed loop, one client, no streaming state.  One registered
  query per operator module plus two direct ``operators.cardinality`` calls,
  in a seed-shuffled order, each executed through the ``noop`` sink; one
  full pass, then further ops in the same order until ``--seconds`` pass.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import check
import gen
from measure import RssSampler, StatusRest, Tracer, canary_wall, host_stamp, jobs_in_group, loadavg

SETUP_REPEATS = 3
START_TS_BASE = 1_600_000_000

REPLAY_FILES = 3
REPLAY_LINES_PER_FILE = 10_000
MIN_REPLAYS = 2
WARM_FILES = 2

LIVE_INTERVAL_S = 0.25
LIVE_EVENTS_PER_S = 1_200  # about a quarter of the replay loop's throughput on 4 cores
LIVE_TRIGGER = "100 milliseconds"
LIVE_DRAIN_TIMEOUT_S = 60.0
# Files due in the first seconds of the live loop meet the query's start-up
# (first-batch planning, state store creation); they are checked for
# correctness but kept out of the latency and backlog figures.
LIVE_LEAD_IN_S = 2.0

MIX_SCALE = 0.01  # batch tables at sf0.01 row counts
MIX_EVENTS = 20_000
# (module, registry query): each module's slowest query in the full sweep.
MIX_QUERIES = (
    ("relational", "q_tpch_q2"),
    ("dedup", "q_dedup_keep_best"),
    ("similarity", "q_sim_knn_ivfpq"),
    ("text", "q_text_contamination"),
    ("multimodal", "q_mm_caption_align"),
    ("udfs", "q_udf_grouped_agg"),
)
MIX_TABLES = ("region", "nation", "supplier", "part", "lineitem", "documents", "embeddings", "events")
FAMILIES = ("cardinality", "relational", "dedup", "similarity", "text", "multimodal", "udfs")

STREAMING_MS = {
    "streaming.add_batch_ms": ("durationMs", "addBatch"),
    "streaming.query_planning_ms": ("durationMs", "queryPlanning"),
    "streaming.wal_commit_ms": ("durationMs", "walCommit"),
    "streaming.commit_offsets_ms": ("durationMs", "commitOffsets"),
    "streaming.latest_offset_ms": ("durationMs", "latestOffset"),
    "streaming.state_update_ms": ("stateOperators", "allUpdatesTimeMs"),
    "streaming.state_commit_ms": ("stateOperators", "commitTimeMs"),
}

PER_LAYER = (
    ["session.get_spark_s", "sources.scan_s"]
    + list(STREAMING_MS)
    + [
        "streaming.parse_kept_ratio",
        "streaming.state_rows_total",
        "streaming.state_rows_removed",
        "streaming.state_memory_bytes",
        "streaming.batches",
        "streaming.rows_per_batch",
    ]
    + [f"operators.{f}.{m}" for f in FAMILIES for m in ("build_s", "exec_s", "jobs")]
    + [
        "caching.frames_released",
        "spark.shuffle_write_bytes",
        "spark.spill_bytes",
        "spark.gc_ms",
        "spark.task_count",
        "spark.task_skew",
        "generator.late_s",
        "generator.backlog_files",
        "process.peak_rss_mb",
    ]
)


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_files"):
        return "files"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio") or name.endswith("_skew"):
        return "ratio"
    return "count"


@dataclass
class Result:
    """``named`` holds the workload's own end-to-end metrics; ``e2e``
    maps them onto the names every workload reports (see E2E)."""

    named: dict[str, tuple[float, str]]
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    problems: list[str]
    primary: str  # the e2e metric the tracing overhead is reported on
    notes: dict = field(default_factory=dict)


class Run:
    """Everything one benchmark run shares: arguments, scratch space, the
    session, the tracer and the RSS sampler."""

    def __init__(self, seed: int, seconds: float, traced: bool, work: str):
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(traced)
        self.spark = None
        self.sampler: RssSampler | None = None
        self.session_s: list[float] = []
        self.rest: StatusRest | None = None
        self.stamp: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start(self) -> None:
        """``get_spark`` SETUP_REPEATS times (the first launches the JVM,
        later ones rebuild the session in it); the median is set-up cost."""
        from kafka_go_cardinality_spark.session import get_spark

        extra = {"spark.ui.enabled": "true", "spark.ui.port": "0"} if self.traced else None
        for _ in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark", "setup"):
                self.spark = get_spark(extra_conf=extra)
            self.session_s.append(time.perf_counter() - t0)
            if self.sampler is None:
                from pyspark import SparkContext

                self.sampler = RssSampler(SparkContext._gateway.proc.pid)
                self.sampler.start()
        self.stamp = host_stamp(self.spark)
        self.stamp["loadavg_start"] = loadavg()
        if self.traced:
            self.rest = StatusRest(self.spark)

    def setup_s(self, warm_s: float) -> float:
        return statistics.median(self.session_s) + warm_s

    def canary(self, parquet_path: str) -> None:
        self.stamp["canary_s"] = round(canary_wall(self.spark, parquet_path), 4)

    def finish(self, result: Result) -> Result:
        self.sampler.stop()
        result.layers["process.peak_rss_mb"] = self.sampler.peak / 2**20
        result.named["peak_rss_mb"] = (result.layers["process.peak_rss_mb"], "MB")
        result.named["setup_s"] = (result.e2e["setup_s"], "s")
        result.named["failed_ratio"] = (result.failed / result.attempted, "ratio")
        self.stamp["loadavg_end"] = loadavg()
        result.layers["session.get_spark_s"] = statistics.median(self.session_s)
        result.notes["host"] = self.stamp
        return result

    def stage_mark(self) -> int:
        return self.rest.max_stage_id() if self.rest else -1

    def spark_layers(self, mark: int) -> dict[str, float]:
        return self.rest.stage_metrics(mark) if self.rest else {}


def _pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between order statistics (the
    ``inclusive`` method): with few samples it does not collapse to the
    single slowest one."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _start_ts(rng: np.random.Generator) -> int:
    return START_TS_BASE + int(rng.integers(0, 365 * 86_400))


# ------------------------------------------------------------- streaming


def _progress_layers(progress: list, wire_lines: int, traced: bool) -> dict[str, float]:
    """Per-micro-batch streaming metrics from ``recentProgress``."""
    out: dict[str, float] = {}
    data = [p for p in progress if p["numInputRows"] > 0]
    for name, (group, key) in STREAMING_MS.items():
        if group == "durationMs":
            vals = [p["durationMs"].get(key, 0) for p in data]
        else:
            vals = [p["stateOperators"][0][key] for p in data if p["stateOperators"]]
        out[name] = float(statistics.median(vals)) if vals else 0.0
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    out["streaming.state_rows_total"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
    out["streaming.state_rows_removed"] = float(sum(o["numRowsRemoved"] for o in ops))
    out["streaming.state_memory_bytes"] = float(ops[-1]["memoryUsedBytes"]) if ops else 0.0
    out["streaming.batches"] = float(len(data))
    out["streaming.rows_per_batch"] = float(statistics.median(p["numInputRows"] for p in data)) if data else 0.0
    if traced:
        kept = sum(
            p["observedMetrics"]["kept"]["rows"]
            for p in progress
            if p["observedMetrics"] and "kept" in p["observedMetrics"]
        )
        out["streaming.parse_kept_ratio"] = kept / wire_lines if wire_lines else 0.0
    return out


def _pipeline(run: Run, raw, op: str):
    """The program's parse → fan-out stages; the traced run also counts
    the rows that survive parsing."""
    from pyspark.sql import functions as F

    from kafka_go_cardinality_spark.streaming.pipeline import parse_user_events, stream_grain_fanout

    with run.tracer.span("streaming.parse_user_events", op):
        parsed = parse_user_events(raw)
    if run.traced:
        parsed = parsed.observe("kept", F.count(F.lit(1)).alias("rows"))
    with run.tracer.span("streaming.stream_grain_fanout", op):
        return stream_grain_fanout(parsed)


def _replay(run: Run, wire_dir: str, table: str, op: str):
    """One AvailableNow replay, one wire file per micro-batch; returns
    (wall seconds, progress list)."""
    from kafka_go_cardinality_spark.streaming.pipeline import replay_to_memory

    t0 = time.perf_counter()
    raw = run.spark.readStream.option("maxFilesPerTrigger", 1).text(wire_dir)
    stats = _pipeline(run, raw, op)
    with run.tracer.span("streaming.replay_to_memory", op):
        q = replay_to_memory(stats, table)
    return time.perf_counter() - t0, list(q.recentProgress)


def _check_table(run: Run, table: str, exact: check.Windows) -> list[str]:
    pdf = run.spark.table(table).toPandas()
    run.spark.catalog.dropTempView(table)
    return check.compare_windows(exact, check.windows_of(pdf), check.APPROX_BOUND)


def _source_batches(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
        for n in os.listdir(d)
        if n.isdigit()
    }


class LiveGenerator(threading.Thread):
    """Renames one file into ``dest`` every ``interval`` seconds from
    ``t0`` (wall clock), on schedule regardless of the consumer.  The file
    name carries its due time."""

    def __init__(self, chunks: list[list[str]], stage: str, dest: str, t0: float, interval: float):
        super().__init__(name="live-generator", daemon=True)
        self.chunks, self.stage, self.dest = chunks, stage, dest
        self.t0, self.interval = t0, interval
        self.written: list[tuple[str, float, float]] = []  # (name, due, done)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, lines in enumerate(self.chunks):
                due = self.t0 + i * self.interval
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"due-{int(due * 1e6)}-{i:05d}.jsonl"
                gen.write_lines(os.path.join(self.stage, name), lines)
                os.rename(os.path.join(self.stage, name), os.path.join(self.dest, name))
                self.written.append((name, due, time.time()))
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e


def _replay_phase(run: Run, wire_dir: str, n_lines: int, exact: check.Windows) -> dict:
    """Closed loop: whole replays of the dump, at least MIN_REPLAYS, until
    ``run.seconds`` pass."""
    walls, batch_s, progress, problems = [], [], [], []
    start = time.perf_counter()
    # A floor on the count: it then changes only with a large change in
    # speed, not with noise around the time limit.
    while len(walls) < MIN_REPLAYS or time.perf_counter() - start < run.seconds:
        op = f"replay{len(walls)}"
        wall, prog = _replay(run, wire_dir, op, op)
        walls.append(wall)
        batch_s += [p["durationMs"]["triggerExecution"] / 1000 for p in prog if p["numInputRows"] > 0]
        progress.append(prog)
        with run.tracer.span("check", op):
            problems.append([f"{op}: {p}" for p in _check_table(run, op, exact)])
    layers_by_replay = [_progress_layers(prog, n_lines, run.traced) for prog in progress]
    return {
        "walls": walls,
        "batch_s": batch_s,
        "problems": problems,
        "layers": {k: statistics.median(lr[k] for lr in layers_by_replay) for k in layers_by_replay[0]},
        "events_per_s": n_lines * len(walls) / sum(walls),
    }


def _live_phase(run: Run, chunks: list[list[str]], exact: check.Windows) -> dict:
    """Open loop: one file every LIVE_INTERVAL_S for ``run.seconds``, read
    by a processing-time-triggered query."""
    from kafka_go_cardinality_spark.streaming.pipeline import file_user_source

    for d in ("live_in", "live_stage"):
        os.makedirs(run.path(d))
    ckpt = run.path("live_ckpt")
    stats = _pipeline(run, file_user_source(run.spark, run.path("live_in")), "live")
    with run.tracer.span("streaming.start", "live"):
        q = (
            stats.writeStream.format("memory")
            .queryName("live")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=LIVE_TRIGGER)
            .start()
        )
    try:
        t_start = time.time() + 0.5
        g = LiveGenerator(chunks, run.path("live_stage"), run.path("live_in"), t_start, LIVE_INTERVAL_S)
        g.start()
        g.join()
        if g.error is not None:
            raise g.error
        t_end = t_start + (len(chunks) - 1) * LIVE_INTERVAL_S
        t_timed = t_start + LIVE_LEAD_IN_S
        deadline = time.time() + LIVE_DRAIN_TIMEOUT_S
        while time.time() < deadline:
            batch_of, commits = _source_batches(ckpt), _commit_times(ckpt)
            if all(batch_of.get(n) in commits for n, _, _ in g.written):
                break
            time.sleep(0.1)
        progress = list(q.recentProgress)
        with run.tracer.span("check", "live"):
            output_problems = [f"live: {p}" for p in _check_table(run, "live", exact)]
    finally:
        q.stop()

    batch_of, commits = _source_batches(ckpt), _commit_times(ckpt)
    latencies, backlog_s, uncommitted, at_end = [], 0.0, 0, 0
    for name, due, _ in g.written:
        commit = commits.get(batch_of.get(name, -1))
        if commit is None:
            uncommitted += 1
            commit = math.inf
        if due < t_timed:
            continue
        if commit < math.inf:
            latencies.append(commit - due)
        backlog_s += max(0.0, min(commit, t_end) - due)
        at_end += commit > t_end
    return {
        "latencies": latencies,
        # Time-averaged number of files that were due but not committed.
        "backlog_files": backlog_s / (t_end - t_timed),
        "backlog_at_end": at_end,
        "late_p90_s": _pct([done - due for _, due, done in g.written], 0.9),
        "files": len(g.written),
        "uncommitted": uncommitted,
        "output_problems": output_problems,
        "progress": progress,
    }


# Streaming per-layer metrics and the phase each is read from: per-event
# work and state size from the replays, per-micro-batch fixed costs from
# the live loop's small batches.
LIVE_LAYERS = {
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "streaming.latest_offset_ms",
    "streaming.state_commit_ms",
}


def stream(run: Run) -> Result:
    lines_total = REPLAY_FILES * REPLAY_LINES_PER_FILE
    ev = gen.wire_events(run.rng, lines_total, _start_ts(run.rng))
    warm = gen.wire_events(run.rng, WARM_FILES * REPLAY_LINES_PER_FILE, _start_ts(run.rng))
    per_file = int(LIVE_EVENTS_PER_S * LIVE_INTERVAL_S)
    n_live_files = int((LIVE_LEAD_IN_S + run.seconds) / LIVE_INTERVAL_S) + 1
    live = gen.wire_events(run.rng, per_file * n_live_files, _start_ts(run.rng))
    gen.write_wire(run.path("wire"), ev, REPLAY_LINES_PER_FILE)
    gen.write_wire(run.path("warm"), warm, REPLAY_LINES_PER_FILE)
    live_lines = live.lines()
    chunks = [live_lines[i : i + per_file] for i in range(0, len(live_lines), per_file)]
    exact = check.exact_window_counts(*ev.clean())

    run.start()
    t0 = time.perf_counter()
    _replay(run, run.path("warm"), "warmup", "warmup")
    warm_problems = [f"warm-up: {p}" for p in _check_table(run, "warmup", check.exact_window_counts(*warm.clean()))]
    setup_s = run.setup_s(time.perf_counter() - t0)
    gen.write_tables(run.path("canary"), {"events": gen.events_table(run.rng, warm)})
    run.canary(run.path("canary", "events.parquet"))

    mark = run.stage_mark()
    rp = _replay_phase(run, run.path("wire"), lines_total, exact)
    lv = _live_phase(run, chunks, check.exact_window_counts(*live.clean()))

    live_layers = _progress_layers(lv["progress"], len(live), run.traced)
    layers = {k: (live_layers if k in LIVE_LAYERS else rp["layers"])[k] for k in rp["layers"]}
    layers["generator.late_s"] = lv["late_p90_s"]
    layers["generator.backlog_files"] = lv["backlog_files"]
    layers.update(run.spark_layers(mark))
    lat = lv["latencies"]
    named = {
        "replay_events_per_s": (rp["events_per_s"], "1/s"),
        "replay_batch_p50_s": (statistics.median(rp["batch_s"]), "s"),
        "replay_batch_p90_s": (_pct(rp["batch_s"], 0.9), "s"),
        # No file committed: latency is at least the drain timeout.
        "live_latency_p50_s": (statistics.median(lat) if lat else LIVE_DRAIN_TIMEOUT_S, "s"),
        "live_latency_p90_s": (_pct(lat, 0.9) if lat else LIVE_DRAIN_TIMEOUT_S, "s"),
        "live_backlog_files": (lv["backlog_files"], "files"),
    }
    problems = warm_problems + [p for ps in rp["problems"] for p in ps] + lv["output_problems"]
    if lv["uncommitted"]:
        problems.append(f"live: {lv['uncommitted']} files not committed within {LIVE_DRAIN_TIMEOUT_S}s")
    # Operations: the warm-up replay, each timed replay, each live file and
    # the live output check.
    failed = (
        bool(warm_problems)
        + sum(1 for ps in rp["problems"] if ps)
        + lv["uncommitted"]
        + bool(lv["output_problems"])
    )
    return run.finish(Result(
        named=named,
        e2e={
            "setup_s": setup_s,
            "throughput_per_s": named["replay_events_per_s"][0],
            "latency_p50_s": named["live_latency_p50_s"][0],
            "latency_p90_s": named["live_latency_p90_s"][0],
        },
        layers=layers,
        attempted=1 + len(rp["walls"]) + lv["files"] + 1,
        failed=int(failed),
        problems=problems,
        primary="throughput_per_s",
        notes={
            "replays": len(rp["walls"]),
            "replay_batch_s": [round(b, 3) for b in rp["batch_s"]],
            "live_files": lv["files"],
            "live_batches": int(live_layers["streaming.batches"]),
            "live_backlog_files_at_end": lv["backlog_at_end"],
            "live_latency_s": [round(x, 3) for x in lat],
        },
    ))


# ------------------------------------------------------------- batch mix


def _mix_ops(data_dir: str, exact: check.Windows):
    """(family, name, build(spark) → DataFrame, check(pdf) → problems)."""
    from kafka_go_cardinality_spark.operators import cardinality as card
    from kafka_go_cardinality_spark.queries import ORACLE_SQL, QUERIES
    from kafka_go_cardinality_spark.sources import load_table

    ops = []
    for family, name in MIX_QUERIES:
        sql = ORACLE_SQL[name]

        def checker(pdf, sql=sql):
            bad = check.frames_match(pdf, check.oracle_frame(data_dir, list(MIX_TABLES), sql))
            return [bad] if bad else []

        ops.append((family, name, lambda spark, name=name: QUERIES[name](spark, data_dir), checker))
    day = {k: v for k, v in exact.items() if k[0] == "day_count"}
    ops.append((
        "cardinality", "grain_fanout_rollup",
        lambda spark: card.grain_fanout_rollup(load_table(spark, data_dir, "events")),
        lambda pdf: check.compare_windows(exact, check.windows_of(pdf), check.APPROX_BOUND),
    ))
    ops.append((
        "cardinality", "cardinality_day_exact",
        lambda spark: card.cardinality(load_table(spark, data_dir, "events"), "day", exact=True),
        lambda pdf: check.compare_windows(day, check.windows_of(pdf), 0.0),
    ))
    return ops


def batch_mix(run: Run) -> Result:
    from kafka_go_cardinality_spark.caching import release_tracked
    from kafka_go_cardinality_spark.sources import load_table

    data_dir = run.path("sf")
    ev = gen.wire_events(run.rng, MIX_EVENTS, _start_ts(run.rng))
    gen.write_tables(data_dir, gen.batch_tables(run.rng, MIX_SCALE, ev))
    exact = check.exact_window_counts(*ev.clean())
    ops = _mix_ops(data_dir, exact)
    order = run.rng.permutation(len(ops))
    ops = [ops[i] for i in order]

    run.start()
    spark = run.spark
    attempted = failed = 0
    problems: list[str] = []
    # Warm-up: every plan once, collected and checked against DuckDB here,
    # outside the timed section.
    t0 = time.perf_counter()
    for family, name, build, checker in ops:
        attempted += 1
        try:
            with run.tracer.span("operators.build", f"warmup-{name}", family=family):
                df = build(spark)
            with run.tracer.span("operators.collect", f"warmup-{name}", family=family):
                pdf = df.toPandas()
        except Exception as e:  # a failing query is a finding, not a crash
            failed += 1
            problems.append(f"warm-up {name}: {type(e).__name__}: {e}")
            continue
        finally:
            release_tracked()
        with run.tracer.span("check", f"warmup-{name}", family=family):
            bad = checker(pdf)
        if bad:
            failed += 1
            problems += [f"{name}: {p}" for p in bad]
    setup_s = run.setup_s(time.perf_counter() - t0)
    run.canary(f"{data_dir}/events.parquet")

    mark = run.stage_mark()
    samples: dict[str, list[dict[str, float]]] = {name: [] for _, name, _, _ in ops}
    i = 0
    start = time.perf_counter()
    # One full pass, then op by op until the time is up: the sample count
    # grows smoothly with speed instead of jumping by whole passes.
    while i < len(ops) or time.perf_counter() - start < run.seconds:
        family, name, build, _ = ops[i % len(ops)]
        op = f"{i}-{name}"
        i += 1
        attempted += 1
        if run.traced:
            spark.sparkContext.setJobGroup(op, op)
        sample = None
        try:
            tb = time.perf_counter()
            with run.tracer.span("operators.build", op, family=family):
                df = build(spark)
            te = time.perf_counter()
            with run.tracer.span("operators.exec", op, family=family):
                df.write.format("noop").mode("overwrite").save()
            sample = {"build_s": te - tb, "exec_s": time.perf_counter() - te}
        except Exception as e:
            failed += 1
            problems.append(f"{op}: {type(e).__name__}: {e}")
        finally:
            with run.tracer.span("caching.release_tracked", op):
                released = release_tracked()
        if sample is not None:
            sample["frames_released"] = released
            sample["jobs"] = jobs_in_group(spark, op) if run.traced else 0
            samples[name].append(sample)
    if run.traced:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # Per op, the median of its samples; a pass is one of each op.
    med = {
        name: {k: statistics.median(x[k] for x in xs) for k in xs[0]}
        for name, xs in samples.items()
        if xs
    }
    layers = {f"operators.{f}.{m}": 0.0 for f in FAMILIES for m in ("build_s", "exec_s", "jobs")}
    layers["caching.frames_released"] = 0.0
    for family, name, _, _ in ops:
        for m in ("build_s", "exec_s", "jobs"):
            layers[f"operators.{family}.{m}"] += med.get(name, {}).get(m, 0.0)
        layers["caching.frames_released"] += med.get(name, {}).get("frames_released", 0.0)
    layers.update(run.spark_layers(mark))
    if run.traced:
        scans = []
        for r in range(3):
            ts = time.perf_counter()
            for t in MIX_TABLES:
                with run.tracer.span("sources.load_table", f"scan{r}-{t}"):
                    load_table(spark, data_dir, t).write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - ts)
        layers["sources.scan_s"] = statistics.median(scans)
    pass_s = sum(m["build_s"] + m["exec_s"] for m in med.values())
    op_s = [x["build_s"] + x["exec_s"] for xs in samples.values() for x in xs]
    named = {
        "mix_pass_s": (pass_s, "s"),
        "mix_ops_per_s": (len(ops) / pass_s, "1/s"),
        "mix_op_p50_s": (statistics.median(op_s), "s"),
        "mix_op_p90_s": (_pct(op_s, 0.9), "s"),
    }
    return run.finish(Result(
        named=named,
        e2e={
            "setup_s": setup_s,
            "throughput_per_s": named["mix_ops_per_s"][0],
            "latency_p50_s": named["mix_op_p50_s"][0],
            "latency_p90_s": named["mix_op_p90_s"][0],
        },
        layers=layers,
        attempted=attempted,
        failed=failed,
        problems=problems,
        primary="throughput_per_s",
        notes={"timed_ops": i, "order": [name for _, name, _, _ in ops]},
    ))


WORKLOADS = {"stream": stream, "batch_mix": batch_mix}
