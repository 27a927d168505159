"""Closed-loop benchmark of the engine: one workload, one client, one
session on ``local[<cpus>]``.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 10 --trace 0

Generates the seeded sf0.1 fixture inside a scratch directory of the
checkout, sets up the workload, runs a fixed number of op blocks
(``--seconds`` over the workload's nominal block time), checks every
op's output outside its timed region, tears the session down and
removes the scratch directory. The last stdout line is
the result JSON: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1`` (job groups, the Spark event log and a py4j
counter switched on). The line before it is a report with the run's
cpus, loadavg, input properties and tail percentile.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import datagen  # noqa: E402
import eventlog  # noqa: E402
from harness import (  # noqa: E402
    OpRecord, Py4jCounter, RssSampler, Spans, cpu_jiffies, loadavg, steal_share, tail,
    tree_stats,
)
from workloads import SUITE_QUERIES, WORKLOADS  # noqa: E402

SF = 0.1
FACADE_METHODS = ("search_similar_results", "upsert_vector_index", "delete_vectors")
RECONCILE_TOL = 0.05  # build.s + exec.s within 5% (or 2 ms) of op wall time
# a run stops starting blocks once its op time passes this many times
# --seconds, which only a program several times slower than the one the
# block times were measured on hits;
# it keeps such a run inside the time one run may take
CAP_FACTOR = 4


@dataclass
class Ctx:
    spark: object
    seed: int
    data_dir: str
    warehouse: str
    tables: dict
    layer: dict = field(default_factory=dict)

    def warehouse_files(self) -> dict:
        return tree_stats(self.warehouse)


def configure(scratch: Path, trace: bool) -> None:
    """Point every directory Spark and Python write to into ``scratch``
    and, when tracing, switch the event log on. Must run before the JVM
    starts."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["TMPDIR"] = str(scratch / "tmp")
    conf = {
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch / 'tmp'}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{scratch / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop the session, then its gateway JVM (which exits when its
    stdin closes), and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def run_op(op_id: int, op, ctx: Ctx, trace: bool, spans: Spans, counter) -> OpRecord:
    sc = ctx.spark.sparkContext
    arg = op.prepare()
    before = ctx.warehouse_files() if trace and op.kind == "write" else None
    error, result, stamp = "", None, {}
    t0 = time.perf_counter()
    try:
        if trace:
            sc.setJobGroup(f"op{op_id}.build", op.name)
            counter.active = True
        stamp["b0"] = time.perf_counter()
        built = op.build(arg)
        stamp["b1"] = time.perf_counter()
        if trace:
            counter.active = False
            sc.setJobGroup(f"op{op_id}.exec", op.name)
        stamp["e0"] = time.perf_counter()
        result = op.action(built)
        stamp["e1"] = time.perf_counter()
    except Exception as exc:  # a failed op is counted, not fatal
        error = f"{type(exc).__name__}: {exc}"[:300]
    t1 = time.perf_counter()
    if trace:
        counter.active = False
        sc.setJobGroup(f"op{op_id}.check", op.name)
    tb0, tb1 = stamp.get("b0", t0), stamp.get("b1", t1)
    te0, te1 = stamp.get("e0", t1), stamp.get("e1", t1)
    if not error:
        try:
            if not op.check(result):
                error = "wrong output"
        except Exception as exc:
            error = f"check {type(exc).__name__}: {exc}"[:300]
    rec = OpRecord(op_id, op.name, op.kind, op.method, t1 - t0, tb1 - tb0, te1 - te0, not error, error)
    if trace:
        spans.add(op_id, "op", t0, t1, None)
        spans.add(op_id, "build", tb0, tb1, "op")
        spans.add(op_id, "exec", te0, te1, "op")
        rec.py4j_calls = counter.take()
        jsc = sc._jsc
        rec.persisted_rdds = len(jsc.getPersistentRDDs())
        rec.storage_bytes = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        if before is not None:
            after = ctx.warehouse_files()
            new = {p: s for p, s in after.items() if before.get(p) != s}
            rec.written = {"bytes": sum(s for s, _ in new.values()), "files": len(new)}
    return rec


def _p50_ms(vals: list[float]) -> float:
    return statistics.median(vals) * 1e3 if vals else 0.0


def _block_figures(recs: list[OpRecord]) -> dict[str, float]:
    walls = [r.wall_s for r in recs]
    return {
        "ops_per_s": len(walls) / sum(walls),
        "latency_p50_ms": _p50_ms(walls),
        "latency_tail_ms": tail(walls)[1] * 1e3,
        "read_p50_ms": _p50_ms([r.wall_s for r in recs if r.kind == "read"]),
    }


def end_to_end(records: list[OpRecord], setup_s: float) -> tuple[dict, dict]:
    """Each timing is taken per block over its completed ops, and the
    run reports the median over blocks: a burst of host contention then
    moves the blocks it hits, not the result."""
    ok = [r for r in records if r.ok]
    blocks: dict[int, list[OpRecord]] = {}
    for r in ok:
        blocks.setdefault(r.block, []).append(r)
    per_block = [_block_figures(rs) for _, rs in sorted(blocks.items())]
    m = {"setup_s": (setup_s, "s")}
    for name, unit in (("ops_per_s", "1/s"), ("latency_p50_ms", "ms"),
                       ("latency_tail_ms", "ms"), ("read_p50_ms", "ms")):
        m[name] = (statistics.median(b[name] for b in per_block) if per_block else 0.0, unit)
    by_op: dict[str, list[float]] = {}
    for r in ok:
        by_op.setdefault(r.name, []).append(r.wall_s)
    return m, {
        "latency_tail_percentile": min(
            (tail([r.wall_s for r in rs])[0] for rs in blocks.values()), default=0.0),
        "latency_samples_per_block": [len(rs) for rs in blocks.values()],
        "p50_ms_by_op": {k: round(_p50_ms(v), 1) for k, v in sorted(by_op.items())},
    }


def per_layer(records, ctx: Ctx, exec_stats: dict, e2e: dict, storage_end: dict,
              rss_peak: int, stored: float) -> dict:
    n = len(records) or 1
    m: dict[str, tuple[float, str]] = {
        "write_p50_ms": (_p50_ms([r.wall_s for r in records if r.ok and r.kind == "write"]), "ms"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
        "peak_rss_mb": (rss_peak / 2**20, "MB"),
        "session.start_s": (ctx.layer["session.start_s"], "s"),
        "tables.load_s": (ctx.layer["tables.load_s"], "s"),
        "build.s": (sum(r.build_s for r in records) / n, "s"),
        "build.py4j_calls": (sum(r.py4j_calls for r in records) / n, "count"),
        "build.jobs": (sum(exec_stats.get(f"op{r.op_id}.build", {}).get("jobs", 0) for r in records) / n, "count"),
        "exec.s": (sum(r.exec_s for r in records) / n, "s"),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_read_bytes": "bytes",
             "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "executor_run_s": "s",
             "executor_cpu_s": "s", "gc_s": "s", "peak_exec_memory_bytes": "bytes"}
    for c, unit in units.items():
        vals = [exec_stats.get(f"op{r.op_id}.exec", {}).get(c, 0) for r in records]
        agg = max(vals, default=0) if c == "peak_exec_memory_bytes" else sum(vals) / n
        m[f"exec.{c}"] = (agg, unit)
    m["cache.persisted_rdds"] = (max((r.persisted_rdds for r in records), default=0), "count")
    m["cache.storage_bytes"] = (max((r.storage_bytes for r in records), default=0), "bytes")
    for meth in FACADE_METHODS:
        walls = [r.wall_s for r in records if r.method == meth]
        m[f"facade.{meth}.calls"] = (len(walls), "count")
        m[f"facade.{meth}.s"] = (sum(walls) / len(walls) if walls else 0.0, "s")
    writes = [r for r in records if r.written]
    w = len(writes) or 1
    m["storage.bytes_written"] = (sum(r.written["bytes"] for r in writes) / w, "bytes")
    m["storage.files_written"] = (sum(r.written["files"] for r in writes) / w, "count")
    m["storage.files_live"] = (storage_end["files"], "count")
    m["storage.bytes_live"] = (storage_end["bytes"], "bytes")
    for q in SUITE_QUERIES:
        rs = [r for r in records if r.method == q]
        m[f"build.s.{q}"] = (statistics.median([r.build_s for r in rs]) if rs else 0.0, "s")
        m[f"exec.s.{q}"] = (statistics.median([r.exec_s for r in rs]) if rs else 0.0, "s")
    m["trace.ops_per_s"] = (e2e["ops_per_s"][0], "1/s")
    m["trace.latency_p50_ms"] = (e2e["latency_p50_ms"][0], "ms")
    return m


def run(workload: str, seed: int, seconds: float, trace: bool, sf: float = SF,
        inject=None) -> tuple[dict, dict, list[OpRecord]]:
    """Run one workload; returns (result, report, op records).
    ``inject`` may wrap the workload's batch iterator (self-test)."""
    scratch = ROOT / ".perfbench_run" / f"{workload}-{os.getpid()}"
    configure(scratch, trace)
    load_start = loadavg()
    cpus = len(os.sched_getaffinity(0))
    spark = None
    try:
        data_dir = str(scratch / "data")
        t = time.perf_counter()
        tables = datagen.generate_tables(seed, sf, WORKLOADS[workload].tables)
        datagen.write_tables(data_dir, tables)
        gen_s = time.perf_counter() - t
        from ai_iceberg_demo_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        ctx = Ctx(spark, seed, data_dir, str(scratch / "warehouse"), tables)
        ctx.layer["session.start_s"] = time.perf_counter() - t
        ctx.layer["input.gen_s"] = gen_s
        counter = Py4jCounter(spark) if trace else None
        wl = WORKLOADS[workload](ctx)
        t = time.perf_counter()
        wl.setup()
        ctx.layer["workload.setup_s"] = time.perf_counter() - t
        if trace:
            spark.sparkContext.setJobGroup("harness", "between ops")
        spans, records = Spans(), []
        batches = wl.batches() if inject is None else inject(wl.batches())
        # start the timed phase from a collected, shrunk JVM heap, so its
        # peak RSS reflects the ops rather than how far set-up grew it
        spark.sparkContext._jvm.java.lang.System.gc()
        setup_s = time.perf_counter() - T_START
        from pyspark import SparkContext

        n_blocks, jiffies = 0, cpu_jiffies()
        with RssSampler([os.getpid(), SparkContext._gateway.proc.pid]) as rss:
            while n_blocks < max(1, round(seconds / wl.block_s)):
                if sum(r.wall_s for r in records) > CAP_FACTOR * seconds:
                    break
                n_blocks += 1
                for op in next(batches):
                    records.append(run_op(len(records), op, ctx, trace, spans, counter))
                    records[-1].block = n_blocks
        steal = steal_share(jiffies, cpu_jiffies())
        stored = wl.stored_ratio()
        live = ctx.warehouse_files()
        storage_end = {"files": len(live), "bytes": sum(s for s, _ in live.values())}
        props = wl.properties()
        wl.teardown()
        stop_session(spark)
        spark = None
        exec_stats = eventlog.reduce_log(eventlog.find_log(str(scratch / "eventlog"))) if trace else {}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            scratch.parent.rmdir()
    e2e, tail_info = end_to_end(records, setup_s)
    metrics = e2e
    if trace:
        metrics = per_layer(records, ctx, exec_stats, e2e, storage_end, rss.peak, stored)
    failed = [r for r in records if not r.ok]
    result = {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    self_times = spans.self_times()
    report = {
        "workload": workload, "seed": seed, "sf": sf, "seconds": seconds, "trace": int(trace),
        "cpus": cpus, "loadavg_start": load_start, "loadavg_end": loadavg(), "blocks": n_blocks,
        "steal_share": round(steal, 4),
        "error_rate": len(failed) / max(1, len(records)),
        "errors": sorted({r.error for r in failed})[:5],
        "properties": props, **tail_info,
        "setup_parts_s": {k: round(v, 3) for k, v in ctx.layer.items()},
        "self_s": {k: round(v, 4) for k, v in self_times.items()},
    }
    return result, report, records


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    result, report, _ = run(args.workload, args.seed, args.seconds, bool(args.trace))
    if not result["attempted"]:
        print("no op completed", file=sys.stderr)
        return 1
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
