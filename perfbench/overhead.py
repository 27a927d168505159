"""Tracing overhead per workload: the traced runs' end-to-end numbers
minus the untraced runs', on the same seeds and run length, each side
the median over the seeds.

    python3 perfbench/overhead.py --seed 1 2 3 [--seconds 20] [--workload suite ...]

Prints one JSON line per workload.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, cwd=HERE.parent,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return {k: v["value"] for k, v in json.loads(p.stdout.strip().splitlines()[-1])["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, nargs="+", default=[1])
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--workload", nargs="*", default=["suite", "index_upkeep"])
    args = ap.parse_args()
    for w in args.workload:
        pairs = [(_run(w, s, args.seconds, 0), _run(w, s, args.seconds, 1)) for s in args.seed]
        out = {"workload": w, "seeds": args.seed}
        for name in ("latency_p50_ms", "ops_per_s"):
            plain = statistics.median(p[name] for p, _ in pairs)
            traced = statistics.median(t[f"trace.{name}"] for _, t in pairs)
            out[name] = {"untraced": plain, "traced": traced, "overhead": traced - plain}
        print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
