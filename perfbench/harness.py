"""Measurement pieces shared by every workload: the op record, spans,
the py4j round-trip counter, the RSS sampler, output digests and the
percentile rules."""

from __future__ import annotations

import math
import os
import statistics
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

TAIL_LADDER = (90.0, 95.0, 99.0, 99.9)


@dataclass
class Op:
    """One closed-loop request.

    ``prepare`` runs untimed (input frames, cache release), ``build``
    is the call into the program up to the value it returns, ``action``
    materializes that value, and ``check`` judges the result untimed.
    """

    name: str
    kind: str  # "read" or "write"
    method: str  # facade method or query name, the per-layer key
    build: Callable[[Any], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], bool]
    prepare: Callable[[], Any] = lambda: None


@dataclass
class OpRecord:
    op_id: int
    name: str
    kind: str
    method: str
    wall_s: float
    build_s: float
    exec_s: float
    ok: bool
    error: str = ""
    block: int = 0
    py4j_calls: int = 0
    persisted_rdds: int = 0
    storage_bytes: int = 0
    written: dict = field(default_factory=dict)


class Spans:
    """In-memory spans: (op id, name, start, end, parent name)."""

    def __init__(self) -> None:
        self.rows: list[tuple[int, str, float, float, str | None]] = []

    def add(self, op_id: int, name: str, start: float, end: float, parent: str | None) -> None:
        self.rows.append((op_id, name, start, end, parent))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        its child spans cover (children never overlap here)."""
        child: dict[tuple[int, str], float] = {}
        for op_id, _name, s, e, parent in self.rows:
            if parent is not None:
                child[(op_id, parent)] = child.get((op_id, parent), 0.0) + (e - s)
        out: dict[str, float] = {}
        for op_id, name, s, e, _parent in self.rows:
            out[name] = out.get(name, 0.0) + (e - s) - child.get((op_id, name), 0.0)
        return out


class Py4jCounter:
    """Counts py4j commands sent while ``active`` by wrapping the
    gateway client's ``send_command`` on the instance."""

    def __init__(self, spark) -> None:
        self.count = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        original = client.send_command

        def counting(*args, **kwargs):
            if self.active:
                self.count += 1
            return original(*args, **kwargs)

        client.send_command = counting

    def take(self) -> int:
        n, self.count = self.count, 0
        return n


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of ``pids`` (this Python process and its JVM),
    sampled every ``period`` seconds."""

    def __init__(self, pids: list[int], period: float = 0.1) -> None:
        self.pids = pids
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _digest_exprs(df):
    """count and order-insensitive hash of ``df``'s rows: xxhash64 of
    each row with floating columns rounded, summed mod 2^31 so ANSI
    arithmetic never overflows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f"`{f.name}`"), 5) if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    h = F.pmod(F.xxhash64(*cols), F.lit(2**31))
    return F.count(F.lit(1)).alias("n"), F.coalesce(F.sum(h), F.lit(0)).alias("s")


def frame_digest(df) -> tuple[int, int]:
    """(row count, hash) of ``df`` in one aggregate job."""
    row = df.agg(*_digest_exprs(df)).first()
    return int(row["n"]), int(row["s"])


def sink_with_digest(df) -> tuple[int, int]:
    """Materialize ``df`` through the noop sink; the (row count, hash)
    digest is collected by the same job through ``observe``."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, *_digest_exprs(df)).write.format("noop").mode("overwrite").save()
    m = obs.get
    return int(m["n"]), int(m["s"])


def percentile(sorted_vals: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    rank = max(1, math.ceil(p / 100.0 * len(sorted_vals)))
    return sorted_vals[rank - 1]


def tail(vals: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p90/p95/p99/p99.9 with at
    least ten samples above it. Below 100 samples none has; the tail is
    then p90 interpolated between order statistics, so it neither rests
    on the single largest sample nor drops to the median as the sample
    count grows."""
    s = sorted(vals)
    best = None
    for p in TAIL_LADDER:
        if len(s) - math.ceil(p / 100.0 * len(s)) >= 10:
            best = p
    if best is not None:
        return best, percentile(s, best)
    if len(s) == 1:
        return 100.0, s[0]
    return 90.0, statistics.quantiles(s, n=10, method="inclusive")[-1]


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time between two ``cpu_jiffies`` samples that the
    hypervisor gave to other guests; high values mean the host, not the
    program, set the pace."""
    if len(start) < 8 or len(end) < 8:
        return 0.0
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d[:8]))


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def tree_stats(root: str) -> dict[str, tuple[int, float]]:
    """path -> (size, mtime) of every data file under ``root``; Spark's
    markers and checksum files are not data."""
    out: dict[str, tuple[int, float]] = {}
    for d, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith(("_", ".")):
                continue
            p = os.path.join(d, name)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime)
    return out
