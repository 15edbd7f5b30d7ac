"""The benchmark's workloads, driven through ``venus_spark``'s public
functions from outside the package.

``log_ingest``
    Closed-loop drain of a landed backlog: seeded LogRecord JSONL files
    land in rounds, and each round is drained by
    ``start_logs_ingest(read_log_stream(..., max_files_per_trigger=1),
    trigger_seconds=None)``. One operation is one micro-batch.

``log_dashboard``
    One client in a closed loop over the documented SQL surface: seeded
    shuffled rounds of :data:`DASHBOARD_PLANS`, each plan built and then
    materialized to the ``noop`` sink. One operation is one plan.

Both run as one process on ``local[nproc]``. Set-up (session start,
warm scans, prepared-index builds) is repeated :data:`SETUP_REPS` times
into fresh directories and reported as the median (``setup_s``); the
first repetition also launches the JVM and pays cold JIT, and is
reported on its own (``cold_setup_s``). Warm-up runs once after the
set-ups. Neither is inside the timed loop.
"""

from __future__ import annotations

import os
import random
import statistics
import subprocess
import time
from dataclasses import dataclass, field

import gen
from metrics import latency_summary, vm_hwm_mb
from spans import JobCounter, Tracer

DASHBOARD_PLANS = (
    "events_scan_filter",
    "json_field_access",
    "json_recordize",
    "correlation_lookup",
    "correlation_lookup_clustered",
    "time_range_filter",
    "time_range_filter_pruned",
    "fuzzy_multi_pattern",
    "topk_recent",
    "json_key_discovery",
    "dynamic_projection",
    "context_join",
    "span_interval_join",
    "timeseries_hourly",
    "json_containment",
    "json_containment_indexed",
    "sql_frontdoor",
    "error_rate_timeseries",
    "timeseries_hourly_rollup",
    "json_field_access_variant",
)
# The prepared artifacts the dashboard plans read, built at set-up.
ARTIFACTS = (
    "events_by_user",
    "events_by_date",
    "events_kv_postings",
    "events_hourly_rollup",
    "events_variant",
)
WARM_SCAN_TABLES = ("events", "customer", "orders", "lineitem", "documents")

SETUP_REPS = 3
# A micro-batch costs about 0.55 s however small on four cores, so lines
# per file set lines/s; 2000 keeps one file's parse well inside that.
LINES_PER_FILE = 2_000
FILES_PER_ROUND = 5
# Warm-up batches: the JVM keeps getting faster for dozens of
# micro-batches, so each set-up stream and the warm-up stream drain
# several files before anything is timed.
SETUP_FILES = 3
WARMUP_FILES = 8
PARSE_PROBE_REPS = 3
# A timed loop also runs until it has this many operations, so the tail
# (10 samples beyond it) sits above the median, and a slow host yields
# the same sample count as a normal one: 5 drains of 5 batches, or 3
# dashboard rounds.
INGEST_MIN_OPS = 25
DASHBOARD_MIN_OPS = 3 * len(DASHBOARD_PLANS)


@dataclass
class Outcome:
    """What one workload run measured."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    mismatches: list[str] = field(default_factory=list)
    setup_reps_s: list[float] = field(default_factory=list)
    warmup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    items: int = 0
    timed_s: float = 0.0
    peak_rss_mb: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)
    # per-class latencies for the detail line
    classes: dict[str, list[float]] = field(default_factory=dict)

    def end_to_end(self) -> dict[str, float]:
        lat = latency_summary(self.op_s)
        return {
            "setup_s": statistics.median(self.setup_reps_s),
            "cold_setup_s": self.setup_reps_s[0],
            "items_per_s": self.items / self.timed_s,
            "op_p50_s": lat["p50"],
            "op_tail_s": lat["tail"],
            "peak_rss_mb": self.peak_rss_mb,
        }


class Service:
    """The Spark session and the run's private directories."""

    def __init__(self, work: str, cpus: int, tracer: Tracer) -> None:
        self.work = work
        self.cpus = cpus
        self.tracer = tracer
        self.spark = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def start_session(self) -> None:
        from venus_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                cpus=self.cpus,
                extra_conf={
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.path('tmp')}",
                    "spark.sql.streaming.numRecentProgressUpdates": "10000",
                },
            )

    def restart_session(self) -> None:
        """A warm restart: a new session in the running JVM."""
        self.spark.stop()
        self.start_session()

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM it drives."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM exits."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Py4JError:
                pass  # the JVM is already gone; still reap it below
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# --------------------------------------------------------------------------
# ingest + streaming
# --------------------------------------------------------------------------


def _land(directory: str, seed: int, stream: str, first: int, n: int) -> gen.LogTally:
    os.makedirs(directory, exist_ok=True)
    tally = gen.LogTally()
    for i in range(first, first + n):
        tally.add(gen.write_log_file(directory, seed, stream, i, LINES_PER_FILE))
    return tally


def _drain(svc: Service, landing: str, sink: str, ckpt: str) -> tuple[float, list]:
    """Drain everything landed so far; returns (seconds, batch progress)."""
    from venus_spark.streaming import read_log_stream, start_logs_ingest

    with svc.tracer.span("streaming.drain"):
        t0 = time.perf_counter()
        query = start_logs_ingest(
            read_log_stream(svc.spark, landing, max_files_per_trigger=1),
            sink,
            ckpt,
            trigger_seconds=None,
        )
        query.awaitTermination()
        seconds = time.perf_counter() - t0
    batches = [p for p in query.recentProgress if p.numInputRows > 0]
    return seconds, batches


def _batch_seconds(batches: list) -> list[float]:
    return [p.durationMs["triggerExecution"] / 1000.0 for p in batches]


def _stream_layer(
    drains: list[tuple[float, list]], sink: str, records: int
) -> dict[str, float]:
    """streaming.* per-layer metrics from query progress and the sink.

    ``drains`` holds each drain's wall seconds and batch progress. The
    inter-batch gap is a drain's time outside its micro-batches (query
    start and stop, waits between triggers) per batch."""

    def ms(p, key):
        return p.durationMs.get(key, 0) / 1000.0

    batches = [p for _, got in drains for p in got]
    gaps = [
        (seconds - sum(_batch_seconds(got))) / len(got)
        for seconds, got in drains
        if got
    ]
    overhead = [
        sum(ms(p, k) for k in ("latestOffset", "walCommit", "commitOffsets",
                               "getBatch", "queryPlanning"))
        for p in batches
    ]
    files, size = 0, 0
    for root, _dirs, names in os.walk(sink):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {
        "streaming.batch_s": statistics.median(_batch_seconds(batches)),
        "streaming.add_batch_s": statistics.median(ms(p, "addBatch") for p in batches),
        "streaming.commit_overhead_s": statistics.median(overhead),
        "streaming.inter_batch_gap_s": statistics.median(gaps),
        "streaming.files_per_batch": files / len(batches),
        "streaming.bytes_per_record": size / records,
    }


def _parse_probe(svc: Service, seed: int) -> dict[str, float]:
    """Time parse_records + good_records + quarantined_records directly
    on one generated batch."""
    from venus_spark.ingest import good_records, parse_records, quarantined_records

    probe_dir = svc.path("probe", "landing")
    tally = _land(probe_dir, seed, "probe", 0, 1)
    raw = svc.spark.read.text(probe_dir)
    times, good = [], 0
    for _ in range(PARSE_PROBE_REPS):
        with svc.tracer.span("ingest.parse"):
            t0 = time.perf_counter()
            parsed = parse_records(raw)
            good = good_records(parsed).count()
            quarantined_records(parsed).count()
            times.append(time.perf_counter() - t0)
    return {
        "ingest.parse_s": statistics.median(times),
        "ingest.good_ratio": good / tally.lines,
    }


def _ingest_setup_rep(svc: Service, rep: int, landing: str) -> float:
    """One set-up: session (re)start, a throwaway stream of
    :data:`SETUP_FILES` files, and a warm scan of what it committed."""
    from venus_spark.streaming import read_logs_table

    t0 = time.perf_counter()
    if rep:
        svc.restart_session()
    else:
        svc.start_session()
    sink = svc.path("ingest", f"setup{rep}", "sink")
    _drain(svc, landing, sink, svc.path("ingest", f"setup{rep}", "ckpt"))
    read_logs_table(svc.spark, sink).count()
    return time.perf_counter() - t0


def _ingest_warmup(svc: Service, seed: int) -> list[float]:
    landing = svc.path("ingest", "warmup", "landing")
    _land(landing, seed, "warmup", 0, WARMUP_FILES)
    _, batches = _drain(
        svc, landing, svc.path("ingest", "warmup", "sink"),
        svc.path("ingest", "warmup", "ckpt"),
    )
    return _batch_seconds(batches)


def run_log_ingest(svc: Service, seed: int, seconds: float, out: Outcome) -> None:
    from pyspark.sql import functions as F
    from venus_spark.streaming import read_logs_table, read_sink_table

    tracer = svc.tracer
    setup_landing = svc.path("ingest", "setup", "landing")
    _land(setup_landing, seed, "setup", 0, SETUP_FILES)
    for rep in range(SETUP_REPS):
        out.setup_reps_s.append(_ingest_setup_rep(svc, rep, setup_landing))
    out.warmup_s = _ingest_warmup(svc, seed)

    landing = svc.path("ingest", "landing")
    sink = svc.path("ingest", "sink")
    ckpt = svc.path("ingest", "ckpt")
    tally = gen.LogTally()
    drains: list[tuple[float, list]] = []
    next_file = 0
    while out.timed_s < seconds or out.attempted < INGEST_MIN_OPS:
        tally.add(_land(landing, seed, "backlog", next_file, FILES_PER_ROUND))
        next_file += FILES_PER_ROUND
        try:
            dt, got = _drain(svc, landing, sink, ckpt)
        except Exception as e:  # noqa: BLE001 - a failed batch is counted
            out.attempted += 1
            out.failed += 1
            out.errors.append(repr(e)[:500])
            break
        out.timed_s += dt
        drains.append((dt, got))
        out.attempted += len(got)
    out.op_s = [t for _, got in drains for t in _batch_seconds(got)]
    out.items = tally.lines

    logs = read_logs_table(svc.spark, sink)
    levels = {
        r["lvl"]: r["n"]
        for r in logs.groupBy(
            F.get_json_object("data", "$.levelname").alias("lvl")
        ).agg(F.count("*").alias("n")).collect()
    }
    out.mismatches += tally.mismatches(
        logs.count(), read_sink_table(svc.spark, sink, "quarantine").count(), levels
    )
    out.peak_rss_mb = svc.peak_rss_mb()

    if tracer.enabled:
        out.layer.update(_stream_layer(drains, sink, tally.lines))
        out.layer.update(_parse_probe(svc, seed))
        out.layer["trace.items_per_s"] = out.items / out.timed_s
        # Layers this loop does not call: one dashboard set-up and round.
        sf_dir = _write_sf(svc, seed)
        _dashboard_setup_rep(svc, 0, sf_dir, restart=False)
        _dashboard_round(svc, sf_dir, random.Random(f"{seed}:side"), None)
        out.layer.update(_plans_layer(svc))


# --------------------------------------------------------------------------
# sources + prepared + plans
# --------------------------------------------------------------------------


def _write_sf(svc: Service, seed: int) -> str:
    # a unique basename: prepared artifacts are keyed by it
    sf_dir = svc.path(f"sf_perfbench_{seed}_{os.getpid()}")
    gen.write_tables(sf_dir, seed)
    return sf_dir


def _dashboard_setup_rep(svc: Service, rep: int, sf_dir: str, restart: bool) -> float:
    """One set-up: session (re)start, warm scans of the base tables, and
    the prepared-index builds into a fresh prepared root."""
    import venus_spark.prepared as prepared
    from venus_spark.sources import load_table

    t0 = time.perf_counter()
    if restart:
        svc.restart_session()
    elif svc.spark is None:
        svc.start_session()
    prepared.PREPARED_ROOT = svc.path("prepared", f"rep{rep}")
    with svc.tracer.span("sources.warm_scan"):
        for t in WARM_SCAN_TABLES:
            load_table(svc.spark, sf_dir, t).count()
    with svc.tracer.span("prepared.build"):
        for a in ARTIFACTS:
            with svc.tracer.span(f"prepared.{a}.build"):
                getattr(prepared, a)(svc.spark, sf_dir)
    return time.perf_counter() - t0


def _dashboard_round(
    svc: Service, sf_dir: str, rng: random.Random, out: Outcome | None
) -> list[float]:
    """One shuffled pass over every dashboard plan; returns per-op
    seconds. Failures are counted on ``out`` when given."""
    from venus_spark.plans import all_plans

    plans = all_plans()
    order = list(DASHBOARD_PLANS)
    rng.shuffle(order)
    tracer = svc.tracer
    jobs = JobCounter(svc.spark) if tracer.enabled else None
    times = []
    for name in order:
        group = jobs.begin(name) if jobs else None
        t0 = time.perf_counter()
        try:
            with tracer.span(f"plans.{name}.build"):
                df = plans[name].fn(svc.spark, sf_dir)
            with tracer.span(f"plans.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            if out is None:
                raise
            out.failed += 1
            out.errors.append(f"{name}: {e!r}"[:500])
        dt = time.perf_counter() - t0
        times.append(dt)
        if out is not None:
            out.classes.setdefault(name, []).append(dt)
        if jobs:
            n_jobs, n_stages = jobs.end(group)
            tracer.count("plans.jobs", n_jobs)
            tracer.count("plans.stages", n_stages)
    return times


def _plans_layer(svc: Service) -> dict[str, float]:
    tracer = svc.tracer
    layer = {}
    for name in DASHBOARD_PLANS:
        for part in ("build", "exec"):
            layer[f"plans.{name}.{part}_s"] = statistics.median(
                tracer.durations(f"plans.{name}.{part}")
            )
    layer["plans.jobs_per_op"] = statistics.mean(tracer.counts["plans.jobs"])
    layer["plans.stages_per_op"] = statistics.mean(tracer.counts["plans.stages"])
    return layer


def _checked_round(
    svc: Service, sf_dir: str, rng: random.Random, out: Outcome
) -> list[float]:
    """The warm-up round, which is also the correctness check: every
    plan, in seeded order, run and compared with its DuckDB oracle by
    ``venus_spark.oracle.run_all``. Returns per-plan seconds."""
    from venus_spark.oracle import run_all

    order = list(DASHBOARD_PLANS)
    rng.shuffle(order)
    times = []
    for name in order:
        t0 = time.perf_counter()
        for r in run_all(svc.spark, sf_dir, [name]):
            if not r.ok:
                out.mismatches.append(f"{name}: {r.detail}")
        times.append(time.perf_counter() - t0)
    return times


def run_log_dashboard(svc: Service, seed: int, seconds: float, out: Outcome) -> None:
    sf_dir = _write_sf(svc, seed)
    for rep in range(SETUP_REPS):
        out.setup_reps_s.append(
            _dashboard_setup_rep(svc, rep, sf_dir, restart=rep > 0)
        )
    out.warmup_s = _checked_round(svc, sf_dir, random.Random(f"{seed}:warmup"), out)

    rng = random.Random(f"{seed}:rounds")
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or len(out.op_s) < DASHBOARD_MIN_OPS:
        before = len(out.op_s)
        out.op_s += _dashboard_round(svc, sf_dir, rng, out)
        out.attempted += len(out.op_s) - before
    out.timed_s = time.perf_counter() - t0
    out.items = out.attempted
    out.peak_rss_mb = svc.peak_rss_mb()

    if svc.tracer.enabled:
        out.layer.update(_plans_layer(svc))
        out.layer["trace.items_per_s"] = out.items / out.timed_s
        # Layers this loop does not call: the ingest parse probe and one
        # drained stream.
        out.layer.update(_parse_probe(svc, seed))
        landing = svc.path("ingest", "side", "landing")
        tally = _land(landing, seed, "side", 0, WARMUP_FILES)
        sink = svc.path("ingest", "side", "sink")
        drain = _drain(svc, landing, sink, svc.path("ingest", "side", "ckpt"))
        out.layer.update(_stream_layer([drain], sink, tally.lines))


def setup_layer(svc: Service) -> dict[str, float]:
    """session / sources / prepared per-layer metrics from the spans."""
    import venus_spark.prepared as prepared

    tracer = svc.tracer
    layer = {
        "session.start_s": statistics.median(tracer.durations("session.start")),
        "session.cold_start_s": tracer.durations("session.start")[0],
        "sources.warm_scan_s": statistics.median(
            tracer.durations("sources.warm_scan")
        ),
        "prepared.build_s": statistics.median(tracer.durations("prepared.build")),
    }
    for a in ARTIFACTS:
        layer[f"prepared.{a}.build_s"] = statistics.median(
            tracer.durations(f"prepared.{a}.build")
        )
    size = 0
    for root, _dirs, names in os.walk(prepared.PREPARED_ROOT):
        size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    layer["prepared.bytes"] = size
    return layer


WORKLOADS = {
    "log_ingest": run_log_ingest,
    "log_dashboard": run_log_dashboard,
}
