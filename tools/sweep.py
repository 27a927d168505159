"""Run EVERY registered query at a scale factor and report timings.

The oracle gate runs at sf0.01 and the bench covers 16 headline
queries — this sweep is the third leg: every query executes at the
target SF (default sf0.1), so a pathological plan that only blows up
beyond oracle scale gets caught before the driver does. Exits nonzero
on any failure.

It is also the bench REGRESSION GUARD: queries listed in
``tools/bench_floor.json`` (the committed per-query numbers from
BENCH_r01.json) are re-timed best-of-2 in the warm session — the same
methodology bench.py uses — and the sweep fails if any exceeds
``max_ratio`` (1.5×) of its recorded floor. The floor only applies
when sweeping the floor's own sf dir (sf0.1).

Usage: python tools/sweep.py [sf_dir] [slow_threshold_sec]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    from ai_iceberg_demo_spark.registry import all_registries
    from ai_iceberg_demo_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    slow_s = float(sys.argv[2]) if len(sys.argv) > 2 else 3.0

    from ai_iceberg_demo_spark.tables import clear_table_cache

    # load evidence with every run (r11 verdict #3): this VM hosts a
    # co-tenant process whose load explains 2x zero-diff swings; print
    # start/end loadavg so any flagged timing carries its context
    from bench import read_loadavg

    print(f"loadavg at sweep start: {read_loadavg()}")
    spark = get_spark("sweep")
    failed: list[tuple[str, str]] = []
    timings: list[tuple[float, str]] = []
    for name, spec in sorted(all_registries().specs.items()):
        t0 = time.perf_counter()
        try:
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings.append((time.perf_counter() - t0, name))
        except Exception as exc:  # noqa: BLE001
            failed.append((name, str(exc).splitlines()[0][:100]))
        # per-query persists (d2/d5/d8/pipeline diamonds) are built
        # fresh on every call — drop them so a 140-query sweep doesn't
        # accumulate a session's worth of dead cached partitions
        spark.catalog.clearCache()
    # the global clearCache also dropped the session-lifetime table
    # handles; rebuild them so post-sweep work starts clean (the floor
    # check below re-isolates per query regardless)
    clear_table_cache(spark)
    for dt, name in sorted(timings, reverse=True):
        if dt > slow_s:
            print(f"SLOW {dt:6.1f}s  {name}")
    print(f"{len(timings)} ran, {len(failed)} failed, "
          f"{sum(t for t, _ in timings):.1f}s total at {sf_dir}")
    for name, err in failed:
        print(f"FAIL {name}: {err}")

    regressed = _check_bench_floor(spark, sf_dir)
    print(f"loadavg at sweep end: {read_loadavg()}")
    return 1 if (failed or regressed) else 0


def _check_bench_floor(spark, sf_dir: str, floor_path: Path | None = None) -> list[str]:
    """Re-time the floor queries with bench.py's exact loop
    (``bench.time_query``: per-query cache isolation, one untimed warm
    run, timed best-of-2), so the guard's numbers are self-contained
    and comparable to the floors regardless of ordering. Returns names
    breaching max_ratio × floor.

    Machine-drift normalization: the recorded floors were measured on
    one day's hardware/thermal state; a uniformly slower box would trip
    every floor at once. The guard therefore compares each query's
    slowdown ratio against ``max_ratio × max(1, median ratio)`` — a
    per-query regression stands out from the fleet, while an
    across-the-board shift (reported as machine drift) does not
    false-alarm."""
    import json
    import statistics

    if floor_path is None:
        floor_path = REPO / "tools" / "bench_floor.json"
    if not floor_path.exists():
        return []
    floor = json.loads(floor_path.read_text())
    if f"sf{floor['sf']}" != Path(sf_dir.rstrip("/")).name:
        print(f"floor check skipped (floor is sf{floor['sf']}, sweeping {sf_dir})")
        return []

    from ai_iceberg_demo_spark.registry import all_registries
    from bench import time_query

    specs = all_registries().specs
    max_ratio = floor["max_ratio"]
    regressed: list[str] = []
    ratios: dict[str, float] = {}
    times: dict[str, float] = {}
    for name, floor_t in floor["queries"].items():
        if name not in specs:
            print(f"REGRESS {name}: in bench_floor.json but not registered")
            regressed.append(name)
            continue
        best = time_query(spark, specs[name], sf_dir, 2)
        ratios[name] = best / floor_t
        times[name] = best
    if not ratios:
        return regressed
    drift = max(1.0, statistics.median(ratios.values()))
    print(f"floor machine-drift factor (median ratio): {drift:.2f}x")
    for name, ratio in ratios.items():
        bad = ratio > max_ratio * drift
        flag = "REGRESS" if bad else "ok"
        print(
            f"floor {flag:7s} {name}: {times[name]:.3f}s vs floor "
            f"{floor['queries'][name]:.3f}s ({ratio:.2f}x)"
        )
        if bad:
            regressed.append(name)
    if regressed:
        print(f"bench floor REGRESSIONS: {' '.join(regressed)}")
    return regressed


if __name__ == "__main__":
    sys.exit(main())
