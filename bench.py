"""Benchmark the engine's headline queries.

Runs the bench-flagged queries from the registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query is fully materialized through the noop sink (no driver
collect, no result truncation) — the number is end-to-end plan
execution, the same thing a cluster run would measure.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def read_loadavg() -> list[float]:
    """1/5/15-minute load averages — recorded into every bench artifact
    (r11 verdict #3) so host-noise adjudication is data in the JSON, not
    session archaeology. This VM has a co-tenant harness process; a
    loadavg well above our own thread count at bench time explains
    2× per-query swings on zero-diff code."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return []


def time_query(spark, spec, sf_dir: str, runs: int) -> float:
    """Best-of-``runs`` seconds for one registered query, fully
    materialized through the noop sink — the one timing loop bench.py,
    tools/time_queries.py and the sweep's floor guard share.

    Steady-state timing: ONE UNTIMED WARM RUN, then best of N timed
    runs. The warm run absorbs per-plan one-time costs — whole-stage-
    codegen JIT, broadcast thread-pool spin-up, shuffle service init
    for the widest pipelines — that a long-lived cluster pays once but
    that best-of-2 alone couldn't amortize for the heaviest plans (r5:
    pipeline_interactive read 1.9–2.0× its floor in-suite yet converged
    to ~1.1× after one warm execution). The guard measures plans, not
    JIT.

    Per-query cache isolation (r12): persisted diamonds SHARED between
    queries (the v18c/g10 graph substrate) made per-query numbers
    order-dependent — whichever family member ran first paid the
    substrate build for everyone after (r11→r12: v18c 2.1 s → 0.74 s
    and g10 3.0 s → 3.7 s from the reorder alone, zero code diff).
    Clearing the cache BEFORE the warm run makes every number
    self-contained: the warm run rebuilds the query's own diamonds, the
    timed runs reuse them — the steady state a long-lived cluster job
    sees, in whatever order queries are listed."""
    from ai_iceberg_demo_spark.tables import clear_table_cache

    spark.catalog.clearCache()
    clear_table_cache(spark)
    sc = spark.sparkContext
    sc.setJobDescription(f"warm: {spec.name}")
    spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for i in range(runs):
        sc.setJobDescription(f"timed{i}: {spec.name}")
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    sc.setJobDescription(None)
    return best


def main() -> None:
    from ai_iceberg_demo_spark.registry import all_registries
    from ai_iceberg_demo_spark.session import get_spark

    load_start = read_loadavg()
    spark = get_spark("bench")
    specs = {n: s for n, s in all_registries().specs.items() if s.bench}

    # warm the JVM + file listing + join/agg codegen once so per-query
    # numbers measure the plans, not session startup
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()

    timings = {
        name: round(time_query(spark, spec, SF_DIR, RUNS), 3)
        for name, spec in specs.items()
    }

    out = {
        "metric": "bench_headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        "loadavg_start": load_start,
        "loadavg_end": read_loadavg(),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
