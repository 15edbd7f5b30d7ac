"""Benchmark of the venus_spark log service.

Run from the root of a source checkout::

    python3 perfbench/run.py --workload log_ingest --seed 1 --seconds 13 --trace 0

``--workload`` is ``log_ingest`` or ``log_dashboard`` (see
``perfbench/workloads.py``). With ``--trace 0`` the last stdout line is
a JSON object carrying every end-to-end metric BENCHMARK.json declares;
with ``--trace 1`` it carries every per-layer metric instead, recorded
from spans the benchmark puts around its calls into each layer. The line
before it is a JSON detail record: host stamp, set-up repetitions,
warm-up durations, sample counts and any mismatch found by the
correctness check.

Every run works in a fresh directory under ``.perfbench_work/`` of the
checkout (prepared artifacts, landing/sink/checkpoint dirs, the
generated tables, Spark's local and temp dirs) and removes it at exit;
nothing else in the checkout is written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")
# JVM heap (SPARK_GRAFT_DRIVER_MEM) when the caller sets none. At the
# program's 16g default the heap grows lazily and its peak depends on
# when G1 happens to collect, so peak_rss_mb spread by more than its
# bound across seeds; a 1g cap makes the peak follow what the run holds.
DEFAULT_DRIVER_MEM = "1g"


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> None:
    """Point every writer the run starts at ``work`` (before the JVM or
    venus_spark.prepared are loaded, both of which read these once)."""
    for d in ("prepared", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_PREPARED_DIR"] = os.path.join(work, "prepared")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # no hsperfdata files under /tmp from the Spark launcher or session JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stamp() -> dict:
    import pyspark

    return {
        "nproc": _nproc(),
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": _cpu_ticks(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "venus_spark", "__init__.py")):
        print(f"venus_spark not found under {ROOT}: run from the root of a "
              "source checkout", file=sys.stderr)
        return 2

    from metrics import latency_summary, result_line
    from workloads import WORKLOADS, Outcome, Service, setup_layer
    from spans import Tracer

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK_PARENT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_PARENT)
    _isolate(work)
    stamp = _stamp()
    tracer = Tracer(enabled=bool(args.trace))
    svc = Service(work, _nproc(), tracer)
    out = Outcome()
    t_start = time.perf_counter()
    try:
        WORKLOADS[args.workload](svc, args.seed, args.seconds, out)
        if tracer.enabled:
            out.layer.update(setup_layer(svc))
    finally:
        try:
            svc.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_PARENT)
            except OSError:
                pass  # another run still owns a directory there
    stamp["loadavg_end"] = list(os.getloadavg())
    steal0, total0 = stamp.pop("cpu_ticks")
    steal1, total1 = _cpu_ticks()
    stamp["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    lat = latency_summary(out.op_s)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": stamp,
        "wall_s": time.perf_counter() - t_start,
        "setup_reps_s": out.setup_reps_s,
        "warmup_s": out.warmup_s,
        "ops": lat["n"],
        "tail_percentile": lat["tail_q"],
        "items": out.items,
        "timed_s": out.timed_s,
        "per_plan_p50_s": {
            k: sorted(v)[len(v) // 2] for k, v in sorted(out.classes.items())
        },
        "errors": out.errors,
        "mismatches": out.mismatches,
    }
    print(json.dumps(detail))
    values = out.layer if args.trace else out.end_to_end()
    kind = "per_layer" if args.trace else "end_to_end"
    print(result_line(not out.mismatches, out.attempted, out.failed, values, kind))
    return 0


if __name__ == "__main__":
    sys.exit(main())
