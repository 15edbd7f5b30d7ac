"""Seeded input generators for the benchmark.

Everything the program under test reads is produced here from the
``--seed`` argument: the same seed gives byte-identical inputs.

- :func:`log_file_lines` makes one landing file of python LogRecord JSON
  lines (the ingest wire payload), about 1 % malformed or missing
  ``created``, and returns the tallies the ingest correctness check
  compares against.
- :func:`write_tables` writes the synthetic star schema the documented
  SQL surface runs over (``events``, ``customer``, ``orders``,
  ``lineitem``, ``documents`` and the small dimension tables), one
  parquet file per table, in the layout ``venus_spark.sources`` reads.
"""

from __future__ import annotations

import json
import os
import random
import uuid
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LEVELS = (("DEBUG", 10), ("INFO", 20), ("WARNING", 30), ("ERROR", 40),
          ("CRITICAL", 50))
_LEVEL_WEIGHTS = (20, 50, 18, 10, 2)
# Share of lines that must land in quarantine: half are not JSON at all,
# half are JSON objects without the required ``created`` field.
MALFORMED_RATE = 0.01
_BASE_EPOCH = 1_704_067_200.0  # 2024-01-01T00:00:00Z


@dataclass
class LogTally:
    """What the generator put into a set of landing files."""

    lines: int = 0
    good: int = 0
    quarantined: int = 0
    levels: Counter = field(default_factory=Counter)

    def add(self, other: "LogTally") -> None:
        self.lines += other.lines
        self.good += other.good
        self.quarantined += other.quarantined
        self.levels.update(other.levels)

    def mismatches(
        self, logs_rows: int, quarantine_rows: int, levels: dict[str, int]
    ) -> list[str]:
        """How what the ingest path committed differs from this tally
        (empty when it matches exactly)."""
        bad = []
        if logs_rows != self.good:
            bad.append(f"logs rows {logs_rows} != generated good {self.good}")
        if quarantine_rows != self.quarantined:
            bad.append(
                f"quarantine rows {quarantine_rows} != generated "
                f"malformed {self.quarantined}"
            )
        want = {k: v for k, v in self.levels.items() if v}
        got = {k: v for k, v in levels.items() if v}
        if got != want:
            bad.append(f"per-levelname counts {got} != generated {want}")
        return bad


def log_file_lines(
    seed: int, stream: str, index: int, n_lines: int
) -> tuple[list[str], LogTally]:
    """One landing file's JSON lines plus its tally.

    ``stream`` separates independent line sets drawn from one seed (the
    warm-up stream and the measured backlog never share a file)."""
    rng = random.Random(f"{seed}:{stream}:{index}")
    tally = LogTally()
    lines = []
    for i in range(n_lines):
        created = _BASE_EPOCH + index * 3600.0 + i * 0.25 + rng.random() * 0.1
        levelname, levelno = rng.choices(LEVELS, _LEVEL_WEIGHTS)[0]
        cid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
        msg = f"request {rng.randrange(10_000)} handled in {rng.randrange(900)} ms"
        rec = {
            "name": f"svc.{rng.choice(('api', 'db', 'auth', 'cache'))}",
            "msg": msg,
            "args": [],
            "levelname": levelname,
            "levelno": levelno,
            "pathname": "app/handlers.py",
            "filename": "handlers.py",
            "module": "handlers",
            "exc_text": None,
            "stack_info": None,
            "lineno": rng.randrange(1, 400),
            "funcName": "handle",
            "created": created,
            "msecs": (created % 1.0) * 1000.0,
            "relativeCreated": rng.random() * 1e6,
            "thread": rng.randrange(1, 1 << 30),
            "threadName": "MainThread",
            "processName": "MainProcess",
            "process": rng.randrange(1, 1 << 16),
            "correlation_id": cid.upper() if rng.random() < 0.1 else cid,
            "message": msg,
            "created_iso": "",
            "random_timing_data": rng.random(),
        }
        tally.lines += 1
        roll = rng.random()
        if roll < MALFORMED_RATE / 2:
            line = json.dumps(rec)[: rng.randrange(5, 60)]  # truncated JSON
            tally.quarantined += 1
        elif roll < MALFORMED_RATE:
            del rec["created"]
            line = json.dumps(rec)
            tally.quarantined += 1
        else:
            line = json.dumps(rec)
            tally.good += 1
            tally.levels[levelname] += 1
        lines.append(line)
    return lines, tally


def write_log_file(
    directory: str, seed: int, stream: str, index: int, n_lines: int
) -> LogTally:
    """Write one landing file atomically (the file source must never see
    a half-written file) and return its tally."""
    lines, tally = log_file_lines(seed, stream, index, n_lines)
    name = f"{stream}-{index:05d}.json"
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, os.path.join(directory, name))
    return tally


# --------------------------------------------------------------------------
# Star schema for the dashboard plans
# --------------------------------------------------------------------------

# Row counts of the generated tables: small enough that a plan's latency
# is mostly planning and job scheduling (what an interactive dashboard
# query pays), large enough that every plan scans real row groups.
TABLE_ROWS = {
    "events": 12_000,
    "customer": 2_000,
    "orders": 4_000,
    "lineitem": 16_000,
    "documents": 1_000,
    "part": 1_000,
    "supplier": 100,
    "nation": 25,
    "region": 5,
    "embeddings": 200,
}

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1_500
N_PROPS_K = 100
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_WORDS = (
    "batch part spark line column order small sort fast value scan slow "
    "query agg table hash join window stream key group filter vector merge "
    "customer plan index page shard tier cold hot row"
).split()
_LANGS = ("en", "en", "en", "es", "fr", "de", "zh")

_TS_US = pa.timestamp("us")
# events.ts is parquet TIMESTAMP(NANOS), as in the program's real input,
# so every events read takes the loader's nanos -> micros conversion.
_TS_NS = pa.timestamp("ns")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(days: np.ndarray, start: str) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(seed: int, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """The star schema as Arrow tables (pure function of ``seed``)."""
    rows = {**TABLE_ROWS, **(rows or {})}
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    n = rows["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, span_us, n)
    ).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[ns]"), type=_TS_NS),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS_K, n)]
        ),
    })

    n = rows["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, n, -999.0, 9999.0)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n)]),
    })

    n_orders = rows["orders"]
    odays = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n_orders,
                                           dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(("O", "F", "P"))[
            rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng, n_orders, 900.0, 450_000.0)),
        "o_orderdate": pa.array(_days_us(odays, "1995-01-01"), type=_TS_US),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[
            rng.integers(0, 5, n_orders)]),
    })

    n = rows["lineitem"]
    okey = rng.integers(0, n_orders, n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n,
                                           dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n)]),
        # ship 1..121 days after the order: about three quarters of the
        # lines fall inside span_interval_join's 90-day window
        "l_shipdate": pa.array(
            _days_us(odays[okey] + rng.integers(1, 122, n), "1995-01-01"),
            type=_TS_US,
        ),
    })

    n = rows["documents"]
    lens = rng.integers(8, 60, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lens]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    n = rows["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(n)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(11, 56, n)]),
        "p_type": pa.array(np.array(("STEEL", "BRASS", "TIN", "COPPER"))[
            rng.integers(0, 4, n)]),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(_money(rng, n, 900.0, 2100.0)),
    })
    n = rows["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, n, -999.0, 9999.0)),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array([f"REGION{i}" for i in range(5)]),
    })
    n = rows["embeddings"]
    vecs = rng.standard_normal((n, 16)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })
    return out


def write_tables(sf_dir: str, seed: int) -> None:
    """Write :func:`make_tables` as ``<sf_dir>/<table>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
