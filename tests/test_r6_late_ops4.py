"""Named invariants for the wrap-phase r6 operators (streaming top-k,
sequential testing, range-partitioner audit)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_t93_final_snapshot_equals_batch_topk(spark):
    """The stream ≡ batch law for an exact holistic result: the last
    logged leaderboard must equal the one-shot wordcount top-10."""
    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.streaming.incremental import (
        _T93_K,
        t93_streaming_topk,
    )
    from ai_iceberg_demo_spark.tables import load_table

    log = t93_streaming_topk(spark, SF_DIR).toPandas()
    last = log[log.batch_id == log.batch_id.max()]
    batch = (
        load_table(spark, "documents", SF_DIR)
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(_T93_K)
        .toPandas()
    )
    assert list(last.term) == list(batch.term)
    assert list(last.n) == list(batch.n)
    # running totals only grow batch over batch for any term seen twice
    assert log.batch_id.nunique() == 3


def test_t94_null_never_stops_and_planted_stays_stopped(spark):
    from ai_iceberg_demo_spark.streaming.events import t94_msprt_sequential

    out = t94_msprt_sequential(spark, SF_DIR).toPandas()
    null = out[out.scenario == "null"]
    planted = out[out.scenario == "planted"].sort_values("day")
    assert not null.stopped_by_today.any()
    assert planted.stopped_by_today.any()
    # always-valid p is non-increasing (running-max construction)
    for scen in ("null", "planted"):
        p = out[out.scenario == scen].sort_values("day").always_valid_p
        assert (p.diff().dropna() <= 1e-12).all()
    # once stopped, stays stopped
    s = planted.stopped_by_today.tolist()
    assert s == sorted(s, key=lambda x: (x,)) or s.index(True) >= 0
    first = s.index(True)
    assert all(s[first:])


def test_o8_partitions_cover_everything_and_skew_is_the_max(spark):
    from ai_iceberg_demo_spark.operators.ordering_sets import (
        _O8_PARTS,
        o8_range_partitioner_audit,
    )
    from ai_iceberg_demo_spark.tables import load_table

    out = o8_range_partitioner_audit(spark, SF_DIR).toPandas()
    assert len(out) == _O8_PARTS
    total = load_table(spark, "lineitem", SF_DIR).count()
    assert out.n.sum() == total  # no row lost or double-bucketed
    assert abs(out.max_skew.iloc[0] - out.vs_ideal.max()) < 1e-9
