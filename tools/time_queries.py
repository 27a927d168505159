"""Time named queries with bench.py's exact methodology.

Usage: python tools/time_queries.py <name> [name ...]

Per query: ``bench.time_query`` — clear caches, one untimed warm noop
run, then best-of-N (SPARK_GRAFT_BENCH_RUNS, default 2) timed noop
runs. Prints one line per query plus loadavg, so isolated
before/after readings carry their own load evidence (r11 verdict #3).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import RUNS, SF_DIR, read_loadavg, time_query  # noqa: E402


def main() -> int:
    from ai_iceberg_demo_spark.registry import all_registries
    from ai_iceberg_demo_spark.session import get_spark

    spark = get_spark("time_queries")
    specs = all_registries().specs
    spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    print(f"loadavg start: {read_loadavg()}")
    total = 0.0
    for name in sys.argv[1:]:
        best = time_query(spark, specs[name], SF_DIR, RUNS)
        total += best
        print(f"{name:36s} {best:8.3f} s   (loadavg {read_loadavg()})")
    print(f"TOTAL {total:.3f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
