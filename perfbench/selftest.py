"""Self-test of the benchmark at sf0.001 with a one-second run length.

    python3 perfbench/selftest.py

For every workload, in a fresh process each (the event log is a JVM
start-up setting), it checks that:
- the untraced run prints every ``end_to_end`` metric of
  ``BENCHMARK.json`` with its unit, and the traced run every
  ``per_layer`` metric;
- every op of the traced run has ``build.s + exec.s`` within
  ``RECONCILE_TOL`` (or 2 ms) of its wall time;
- an injected failing op shows up in ``failed`` and ``error_rate``.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SF = 0.001


def _failing_op():
    from harness import Op

    def boom(_):
        raise RuntimeError("injected failure")

    return Op("injected", "read", "injected", boom, lambda r: r, lambda r: True)


def child(workload: str, trace: bool, inject: bool) -> None:
    sys.path.insert(0, str(HERE))
    import run

    def with_failure(batches):
        yield [_failing_op(), *next(batches)]
        yield from batches

    result, report, records = run.run(
        workload, 1, 1.0, trace, sf=SF, inject=with_failure if inject else None
    )
    print(json.dumps({
        "result": result,
        "report": report,
        "ops": [[r.name, r.wall_s, r.build_s, r.exec_s, r.ok] for r in records],
        "tol": run.RECONCILE_TOL,
    }))


def spawn(workload: str, trace: bool, inject: bool = False) -> dict:
    p = subprocess.run(
        [sys.executable, __file__, "--child", workload, str(int(trace)), str(int(inject))],
        capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_names(out: dict, spec: list[dict], what: str) -> None:
    got = out["result"]["metrics"]
    for m in spec:
        if m["name"] not in got:
            raise SystemExit(f"{what}: metric {m['name']} missing")
        if got[m["name"]]["unit"] != m["unit"]:
            raise SystemExit(f"{what}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        raise SystemExit(f"{what}: metrics not in BENCHMARK.json: {sorted(extra)}")


def main() -> int:
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    for w in WORKLOADS:
        plain = spawn(w, False)
        check_names(plain, bench["end_to_end"], f"{w} trace=0")
        if plain["result"]["failed"]:
            raise SystemExit(f"{w}: {plain['report']['errors']}")
        traced = spawn(w, True)
        check_names(traced, bench["per_layer"], f"{w} trace=1")
        for name, wall, build, exe, _ok in traced["ops"]:
            if abs(wall - build - exe) > max(traced["tol"] * wall, 0.002):
                raise SystemExit(f"{w}: op {name} wall {wall:.4f} != build {build:.4f} + exec {exe:.4f}")
        print(f"{w}: {len(bench['end_to_end'])} + {len(bench['per_layer'])} metrics, "
              f"{len(traced['ops'])} traced ops reconcile", flush=True)
    injected = spawn(bench["workloads"][0]["name"], False, inject=True)
    if not (injected["result"]["failed"] >= 1 and injected["report"]["error_rate"] > 0
            and not injected["result"]["correct"]):
        raise SystemExit(f"injected failure not counted: {injected['result']}")
    print(f"injected failure counted: error_rate {injected['report']['error_rate']:.3f}")
    print("selftest ok")
    return 0


if __name__ == "__main__":
    if len(sys.argv) == 5 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3] == "1", sys.argv[4] == "1")
    else:
        sys.exit(main())
