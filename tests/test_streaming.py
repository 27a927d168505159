"""Structured Streaming smoke: the batch-checked transform bodies run
under readStream → memory sink and produce the same aggregates."""

from __future__ import annotations

import pyspark.sql.functions as F

from ai_iceberg_demo_spark.streaming.events import (
    streaming_tumbling_counts,
    tumbling_counts,
)
from ai_iceberg_demo_spark.tables import load_table
from tests.conftest import SF_DIR


def test_streaming_tumbling_matches_batch(spark):
    agg = streaming_tumbling_counts(spark, SF_DIR)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql("SELECT * FROM stream_out").toPandas()
    batch = tumbling_counts(load_table(spark, "events", SF_DIR)).toPandas()
    key = ["window_start", "event_type"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) > 0
    assert (s["n"].to_numpy() == b["n"].to_numpy()).all()


def test_stream_filter_routing_runs_incrementally(spark):
    """route_topic + filter as a streaming map — the T2/T3 consumer path."""
    from ai_iceberg_demo_spark.streaming.events import (
        filter_event_types,
        read_events_stream,
        route_topic,
    )

    stream = read_events_stream(spark, SF_DIR)
    routed = route_topic(filter_event_types(stream, "ick")).select(
        "event_id", "event_type", "topic"
    )
    q = routed.writeStream.outputMode("append").format("memory").queryName("routed_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM routed_out").toPandas()
    assert len(out) > 0
    assert set(out["topic"]) == {"app.engagement"}


def test_stateful_sessions_match_batch_twin(spark):
    """T5/T6: applyInPandasWithState collect-until-signal over the
    streamed fixture emits exactly the batch twin's summary rows."""
    from ai_iceberg_demo_spark.streaming.events import read_events_stream
    from ai_iceberg_demo_spark.streaming.stateful import (
        events_until_first_signal,
        stateful_sessions,
    )

    stream = read_events_stream(spark, SF_DIR)
    out = stateful_sessions(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql(
        "SELECT user_id, n_events, round(total_value, 2) AS total_value, end_ts "
        "FROM sessions_out"
    ).toPandas()
    batch = (
        events_until_first_signal(load_table(spark, "events", SF_DIR))
        .select("user_id", "n_events", F.round("total_value", 2).alias("total_value"), "end_ts")
        .toPandas()
    )
    s = streamed.sort_values("user_id").reset_index(drop=True)
    b = batch.sort_values("user_id").reset_index(drop=True)
    assert len(s) == len(b) > 0
    assert (s["user_id"].to_numpy() == b["user_id"].to_numpy()).all()
    assert (s["n_events"].to_numpy() == b["n_events"].to_numpy()).all()
    assert (s["total_value"].to_numpy() == b["total_value"].to_numpy()).all()
    assert (s["end_ts"].to_numpy() == b["end_ts"].to_numpy()).all()


def test_streaming_session_window_matches_batch(spark):
    """t10's genuine streaming twin: F.session_window under readStream
    equals (a) the same body run in batch and (b) the registered
    lag+cumsum batch form, per (user_id, session_start, n_events)."""
    from ai_iceberg_demo_spark.registry import all_registries
    from ai_iceberg_demo_spark.streaming.events import (
        session_counts,
        streaming_session_counts,
    )

    q = (
        streaming_session_counts(spark, SF_DIR)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_win_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql("SELECT * FROM sess_win_out")
    batch = session_counts(load_table(spark, "events", SF_DIR))
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    key = ["user_id", "session_start", "n_events"]
    lag_form = all_registries().specs["t10_session_window"].fn(spark, SF_DIR).select(key)
    sw = streamed.select(key)
    assert sw.exceptAll(lag_form).count() == 0
    assert lag_form.exceptAll(sw).count() == 0


def test_progress_counts_stream_updates(spark):
    """T4: per-key progress counters under update mode match batch."""
    from ai_iceberg_demo_spark.streaming.events import (
        progress_counts,
        read_events_stream,
    )

    agg = progress_counts(read_events_stream(spark, SF_DIR))
    q = agg.writeStream.outputMode("update").format("memory").queryName("prog_out").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql(
        "SELECT user_id, max(current) AS current FROM prog_out GROUP BY user_id"
    ).toPandas()
    batch = progress_counts(load_table(spark, "events", SF_DIR)).toPandas()
    s = streamed.sort_values("user_id").reset_index(drop=True)
    b = batch[["user_id", "current"]].sort_values("user_id").reset_index(drop=True)
    assert (s["current"].to_numpy() == b["current"].to_numpy()).all()


def test_resilient_sink_swallows_batch_failures(spark):
    """T7: a failing sink batch is recorded, not fatal (E7 stance)."""
    from ai_iceberg_demo_spark.streaming.events import (
        read_events_stream,
        resilient_foreach_batch,
    )

    errors: list = []
    seen_batches: list = []

    def flaky_write(batch_df, batch_id):
        seen_batches.append(batch_id)
        raise RuntimeError("broker unavailable")

    q = resilient_foreach_batch(read_events_stream(spark, SF_DIR), flaky_write, errors)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen_batches) >= 1
    assert len(errors) == len(seen_batches)
    assert "broker unavailable" in errors[0][1]
    assert q.exception() is None  # stream survived the sink failures


def test_watermark_drops_late_rows(spark, tmp_path):
    """The watermark claim, enforced: a row arriving behind the
    watermark is dropped — the finalized window's count excludes it.

    Batch 1: three 10:xx events + a 13:00 event that advances the
    watermark (10 min) to 12:50, sealing the 10:00-11:00 window.
    Batch 2: a LATE 10:15 event (behind watermark) arrives. In append
    mode the 10:00 window finalizes in this batch — and must count 3,
    not 4.
    """
    src = str(tmp_path / "in")
    sink = f"wm_out_{abs(hash(str(tmp_path))) % 10**8}"

    from datetime import datetime

    def write_batch(rows):
        typed = [(datetime.fromisoformat(ts), et, v) for ts, et, v in rows]
        spark.createDataFrame(typed, "ts TIMESTAMP, event_type STRING, value DOUBLE") \
            .coalesce(1).write.mode("append").parquet(src)

    write_batch(
        [
            ("2024-01-01 10:05:00", "click", 1.0),
            ("2024-01-01 10:15:00", "click", 1.0),
            ("2024-01-01 10:45:00", "click", 1.0),
            ("2024-01-01 13:00:00", "click", 1.0),
        ]
    )
    from ai_iceberg_demo_spark.streaming.events import tumbling_counts

    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
    )
    q = (
        tumbling_counts(stream, "1 hour")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: state built, watermark -> 12:50
        write_batch([("2024-01-01 10:15:00", "late_click", 99.0)])
        q.processAllAvailable()  # batch 2: late row dropped, 10:00 window emits
        out = {
            (r["window_start"].hour, r["event_type"]): r["n"]
            for r in spark.table(sink).collect()
        }
        assert out.get((10, "click")) == 3, f"late row leaked into sealed window: {out}"
        assert (10, "late_click") not in out, f"late event type emitted: {out}"
    finally:
        q.stop()


def test_stream_stream_attribution_matches_batch(spark):
    """T11: the watermarked stream-stream self-join emits exactly the
    batch join's pairs."""
    from ai_iceberg_demo_spark.streaming.events import streaming_attribution
    from ai_iceberg_demo_spark.registry import all_registries

    q = (
        streaming_attribution(spark, SF_DIR)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql("SELECT user_id, view_id, click_id FROM attr_out")
    batch = all_registries().specs["t11_attribution_join"].fn(spark, SF_DIR).select(
        "user_id", "view_id", "click_id"
    )
    assert streamed.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_stream_left_outer_matches_batch(spark, tmp_path):
    """t100: the watermarked LEFT-OUTER stream-stream join emits every
    batch row — matches attached, click-less views as NULL rows once
    the watermark passes view_ts + horizon. A far-future sentinel view
    advances the watermark past every real view's timeout so the
    emit-on-timeout rows actually flush (the sentinel itself stays in
    state: the final watermark sits 4h before its ts, so it is never
    authorized click-less and never emits)."""
    import shutil

    from ai_iceberg_demo_spark.registry import all_registries
    from ai_iceberg_demo_spark.streaming.events import streaming_attribution_left

    src_dir = tmp_path / "t100_events"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "events.parquet")
    raw = spark.read.parquet(str(src_dir / "events.parquet"))
    sentinel_shift = (
        F.col("ts") + 240 * 3600 * 10**9  # physical ts is nanos-as-long
        if dict(raw.dtypes)["ts"] == "bigint"
        else F.col("ts") + F.expr("INTERVAL 240 HOURS")
    )
    # one sentinel per SIDE: the global watermark is the min across
    # both withWatermark operators, and each side tracks event time
    # after its type filter — a view-only sentinel would leave the
    # clicks watermark (and thus the global one) behind
    base = raw.orderBy(F.desc("ts")).limit(1).withColumn("ts", sentinel_shift)
    id_type = dict(raw.dtypes)["event_id"]
    sentinel = base.withColumn("event_type", F.lit("view")).withColumn(
        "event_id", F.lit(-1).cast(id_type)
    ).unionByName(
        base.withColumn("event_type", F.lit("click")).withColumn(
            "event_id", F.lit(-2).cast(id_type)
        )
    )
    q = (
        streaming_attribution_left(spark, str(src_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_left_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # second file → new batch → watermark jumps → timeout rows flush
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "_sentinel_stage")
        )
        staged = next((tmp_path / "_sentinel_stage").glob("part-*.parquet"))
        shutil.copy(staged, src_dir / "events_sentinel.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql(
        "SELECT user_id, view_id, click_id FROM attr_left_out WHERE view_id != -1"
    )
    batch = (
        all_registries()
        .specs["t100_attribution_left_outer"]
        .fn(spark, SF_DIR)
        .select("user_id", "view_id", "click_id")
    )
    n_stream, n_batch = streamed.count(), batch.count()
    assert n_stream == n_batch > 0
    # the outer mode is exercised, not vacuous: some views are click-less
    assert streamed.filter(F.col("click_id").isNull()).count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_native_session_window_stream_matches_batch(spark, tmp_path):
    """t101: the native session_window aggregation emits, in append
    mode, exactly the batch sessionization — once a sentinel event
    advances the watermark past every real session's end. The sentinel
    carries user_id -1 so its own (never-finalized) session is
    excluded from the compare."""
    import shutil

    from ai_iceberg_demo_spark.registry import all_registries
    from ai_iceberg_demo_spark.streaming.events import streaming_session_windows

    src_dir = tmp_path / "t101_events"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "events.parquet")
    raw = spark.read.parquet(str(src_dir / "events.parquet"))
    shift = (
        F.col("ts") + 240 * 3600 * 10**9
        if dict(raw.dtypes)["ts"] == "bigint"
        else F.col("ts") + F.expr("INTERVAL 240 HOURS")
    )
    sentinel = (
        raw.orderBy(F.desc("ts"))
        .limit(1)
        .withColumn("ts", shift)
        .withColumn("user_id", F.lit(-1).cast(dict(raw.dtypes)["user_id"]))
    )
    q = (
        streaming_session_windows(spark, str(src_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t101_out")
        .start()
    )
    try:
        q.processAllAvailable()
        sentinel.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "_sentinel_stage")
        )
        staged = next((tmp_path / "_sentinel_stage").glob("part-*.parquet"))
        shutil.copy(staged, src_dir / "events_sentinel.parquet")
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.sql(
        "SELECT user_id, session_start, n_events, total_value "
        "FROM t101_out WHERE user_id >= 0"
    )
    batch = (
        all_registries()
        .specs["t101_native_session_window"]
        .fn(spark, SF_DIR)
        .select("user_id", "session_start", "n_events", "total_value")
    )
    assert streamed.count() == batch.count() > 0
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_stream_dedup_within_watermark(spark, tmp_path):
    """T12: two copies of the same file -> dropDuplicatesWithinWatermark
    emits each event_id once."""
    import shutil

    from ai_iceberg_demo_spark.streaming.events import dedup_stream, read_events_stream

    src_dir = tmp_path / "dup_events"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "events.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "events_redelivered.parquet")
    stream = read_events_stream(spark, str(src_dir))
    q = (
        dedup_stream(stream, ["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_out").first()
    expected = load_table(spark, "events", SF_DIR).count()
    assert out["n"] == out["d"] == expected


def test_incremental_view_equals_batch(spark, tmp_path):
    """T13: foreachBatch partial-aggregate sink + merge-on-read equals
    the one-shot batch aggregate exactly (decimal partials)."""
    from ai_iceberg_demo_spark.streaming.events import (
        read_events_stream,
        read_user_view,
        user_view_sink,
    )

    out = str(tmp_path / "user_view")
    ckpt = str(tmp_path / "ckpt")
    q = user_view_sink(read_events_stream(spark, SF_DIR), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    view = read_user_view(spark, out)
    batch = (
        load_table(spark, "events", SF_DIR)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
    )
    assert view.exceptAll(batch).count() == 0
    assert batch.exceptAll(view).count() == 0


def test_incremental_curation_matches_batch(spark, tmp_path):
    """The daily-ingest funnel's stream≡batch contract: replaying the
    corpus as 3 micro-batches through the foreachBatch sink must leave
    (a) a curated store identical to one-shot batch curation of the
    whole corpus, (b) a signature table with exactly one row per kept
    fingerprint, and (c) a near-dup link table identical to the batch
    self-join twin over the survivors' 1-in-10 band sample — while
    each batch only ever probed the persisted state (O(new) joins)."""
    import os

    from ai_iceberg_demo_spark.pipeline.curation import curate
    from ai_iceberg_demo_spark.streaming.incremental import (
        BAND_INDEX,
        CURATED,
        NEAR_DUP_LINKS,
        SIGNATURES,
        run_incremental_curation,
    )
    from ai_iceberg_demo_spark.vector.dedup import minhash_bands

    state = run_incremental_curation(spark, SF_DIR, state_dir=str(tmp_path / "state"))
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")

    got = spark.read.parquet(os.path.join(state, CURATED))
    want = curate(docs)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    sigs = spark.read.parquet(os.path.join(state, SIGNATURES))
    assert sigs.count() == sigs.distinct().count() == want.count()

    # batch twin of the link audit: all band collisions among the
    # survivors' doc_id%10==0 sample with corpus_id < new_id
    sample = docs.join(want.select("doc_id"), "doc_id", "left_semi").filter(
        F.col("doc_id") % 10 == 0
    )
    bands = minhash_bands(sample)
    twin = (
        bands.alias("n")
        .join(
            bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_val") == F.col("c.band_val"))
            & (F.col("c.doc_id") < F.col("n.doc_id")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id"))
        .distinct()
    )
    links = spark.read.parquet(os.path.join(state, NEAR_DUP_LINKS))
    assert links.exceptAll(twin).count() == 0
    assert twin.exceptAll(links).count() == 0
    # and the persisted index holds exactly the sample's bands
    idx = spark.read.parquet(os.path.join(state, BAND_INDEX))
    assert idx.count() == bands.count()


def test_watermark_audit_two_phase_equals_global_window(spark):
    """t13's day-sharded running max must be bit-identical to the
    one-window global spelling, and the fixture must exercise all
    three statuses."""
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.streaming.events import (
        WATERMARK_DELAY_US,
        arrival_order,
        t13_watermark_audit,
    )

    ev = load_table(spark, "events", SF_DIR).select(
        "event_type", "ts", "event_id", arrival_order(F.col("event_id")).alias("a")
    )
    w = W.orderBy("a", "event_id").rowsBetween(W.unboundedPreceding, -1)
    run_prev = F.max("ts").over(w)
    classified = ev.select(
        "event_type",
        F.when(run_prev.isNull() | (F.col("ts") >= run_prev), "on_time")
        .when(
            F.unix_micros(F.col("ts")) >= F.unix_micros(run_prev) - WATERMARK_DELAY_US,
            "late_accepted",
        )
        .otherwise("dropped")
        .alias("status"),
        F.when(
            run_prev.isNotNull() & (F.col("ts") < run_prev),
            F.unix_micros(run_prev) - F.unix_micros(F.col("ts")),
        ).alias("late_us"),
    )
    golden = {
        (r["event_type"], r["status"]): (r["n"], r["max_late_us"])
        for r in classified.groupBy("event_type", "status")
        .agg(F.count("*").alias("n"), F.max("late_us").cast("bigint").alias("max_late_us"))
        .collect()
    }
    got = {
        (r["event_type"], r["status"]): (r["n"], r["max_late_us"])
        for r in t13_watermark_audit(spark, SF_DIR).collect()
    }
    assert got == golden
    assert {"on_time", "late_accepted", "dropped"} <= {k[1] for k in got}


def test_funnel_stages_are_monotone_and_ordered(spark):
    from ai_iceberg_demo_spark.streaming.events import t14_funnel

    rows = t14_funnel(spark, SF_DIR).collect()
    assert rows
    n_at = {k: sum(1 for r in rows if r["stage"] >= k) for k in (1, 2, 3)}
    assert n_at[1] >= n_at[2] >= n_at[3]
    assert n_at[3] > 0, "fixture must convert some users through the funnel"
    for r in rows:
        # stage k reached exactly when the k-th timestamp exists
        assert (r["stage"] >= 1) == (r["view_ts"] is not None)
        assert (r["stage"] >= 2) == (r["click_ts"] is not None)
        assert (r["stage"] >= 3) == (r["purchase_ts"] is not None)
        if r["stage"] == 3:
            assert r["view_ts"] < r["click_ts"] < r["purchase_ts"]


def test_burst_alarm_fires_on_planted_spike(spark, tmp_path):
    """A synthetic stream with a 10x spike in one hour must flag that
    hour (and only hours with a full 24h baseline are ever scored)."""
    import numpy as np
    import pandas as pd

    from ai_iceberg_demo_spark.streaming.events import t26_burst_detection

    hours = pd.date_range("2024-01-01", periods=60, freq="h")
    rows = []
    eid = 0
    for i, h in enumerate(hours):
        n = 100 if i == 50 else 10 + (i % 3)  # flat-ish baseline, one spike
        for j in range(n):
            rows.append((eid, h + pd.Timedelta(seconds=j), 1, "view", 1.0, "{}"))
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["event_id"] = pdf["event_id"].astype("int64")
    pdf["user_id"] = pdf["user_id"].astype("int64")
    pdf.to_parquet(tmp_path / "events.parquet")

    out = {r["hr"]: r for r in t26_burst_detection(spark, str(tmp_path)).collect()}
    spike_hr = hours[50].to_pydatetime()
    assert out[spike_hr]["burst"] == 1 and out[spike_hr]["z"] > 10
    assert sum(r["burst"] for r in out.values()) == 1
    for i, h in enumerate(hours):
        if i < 24:  # incomplete baseline → never scored
            assert out[h.to_pydatetime()]["z"] is None


def test_ab_test_flags_planted_effect_and_not_null_effect(spark):
    """t27's z machinery: a planted strong treatment effect comes out
    significant with the right sign; identical variants do not."""
    import pyspark.sql.functions as AF

    from ai_iceberg_demo_spark.streaming.events import t27_ab_test
    from tests.conftest import SF_DIR

    # fixture readout: just shape + internal consistency
    r = t27_ab_test(spark, SF_DIR).first()
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert abs(r["rate_a"] - r["conv_a"] / r["n_a"]) < 1e-6
    assert r["significant"] == (abs(r["z_score"]) >= 1.96)

    # planted effect via the same closed form on a synthetic frame
    rows = [(i, "purchase" if (i % 2 == 0) == (i % 10 < 8) else "view")
            for i in range(2000)]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    per = df.groupBy("user_id").agg(
        AF.max(AF.when(AF.col("event_type") == "purchase", 1).otherwise(0)).alias("c")
    ).select((AF.col("user_id") % 2).alias("v"), "c")
    s = per.groupBy("v").agg(AF.count("*").alias("n"), AF.sum("c").alias("k")).collect()
    st = {r["v"]: (r["n"], r["k"]) for r in s}
    (na, ka), (nb, kb) = st[0], st[1]
    pa, pb, pool = ka / na, kb / nb, (ka + kb) / (na + nb)
    z = (pa - pb) / ((pool * (1 - pool) * (1 / na + 1 / nb)) ** 0.5)
    assert abs(z) >= 1.96 and (z > 0) == (pa > pb)


def test_wap_stream_quarantines_dirty_batch_without_poisoning_publish(spark):
    """t28: three clean batches publish; a planted 4th batch (nulls +
    unknown event type + shifted mean) fails its checks, lands in
    quarantine, and the published store holds exactly the clean rows."""
    import os

    from ai_iceberg_demo_spark.streaming.incremental import (
        AUDIT_LOG,
        PUBLISHED,
        QUARANTINE,
        run_wap_stream,
    )
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    dirty = spark.createDataFrame(
        [(10_000_000 + i,
          "mystery_type" if i % 7 == 0 else "view",
          None if i % 4 == 0 else 500.0)
         for i in range(200)],
        "event_id long, event_type string, value double",
    )
    state = run_wap_stream(spark, SF_DIR, dirty_batch=dirty)

    clean_n = load_table(spark, "events", SF_DIR).count()
    pub = spark.read.parquet(os.path.join(state, PUBLISHED))
    quar = spark.read.parquet(os.path.join(state, QUARANTINE))
    assert pub.count() == clean_n
    assert quar.count() == 200
    assert pub.filter(pub.event_id >= 10_000_000).count() == 0

    audit = spark.read.parquet(os.path.join(state, AUDIT_LOG)).collect()
    by_batch = {}
    for r in audit:
        by_batch.setdefault(r["batch_id"], []).append(r)
    assert all(r["ok"] for b in (0, 1, 2) for r in by_batch[b])
    dirty_checks = {r["check_name"]: r["ok"] for r in by_batch[3]}
    assert dirty_checks == {"null_rate": False, "domain_violations": False,
                            "mean_drift": False}


def test_stateful_rate_limit_matches_batch_window(spark, tmp_path):
    """t30's streaming twin: events replayed as 3 event-TIME-ordered
    micro-batches through the stateful fold deny exactly the rows the
    batch RANGE-frame window denies, with identical counts."""
    import glob
    import os
    import shutil
    import time as _time

    from ai_iceberg_demo_spark.streaming.events import t30_rate_limit
    from ai_iceberg_demo_spark.streaming.stateful import stateful_rate_limit
    from ai_iceberg_demo_spark.tables import load_table

    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cuts = [lo + (hi - lo) * i / 3 for i in (1, 2)]
    batches = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    ingest = tmp_path / "incoming"
    ingest.mkdir()
    t0 = _time.time() - 600
    for i, b in enumerate(batches):
        stage = str(tmp_path / f"_stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = str(ingest / f"batch_{i}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ingest / "*.parquet"))
    )
    q = (
        stateful_rate_limit(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["event_id"], r["n_in_window"])
        for r in spark.sql("SELECT event_id, n_in_window FROM rate_out").collect()
    }
    batch = {
        (r["event_id"], r["n_in_window"])
        for r in t30_rate_limit(spark, SF_DIR).collect()
    }
    assert streamed and streamed == batch


def test_timeout_sessions_flush_abandoned_keys(spark, tmp_path):
    """Event-time timeout sessions: a key that receives the end signal
    closes as 'signal' and never re-emits; a key that goes silent
    flushes as 'timeout' once the watermark passes last_event + gap
    (driven by a late heartbeat batch); counts are exact."""
    import glob
    import os
    import shutil
    import time as _time
    from datetime import datetime, timedelta

    from ai_iceberg_demo_spark.streaming.stateful import (
        stateful_sessions_with_timeout,
    )

    t0 = datetime(2024, 1, 1)

    def ev(i, ts_min, uid, etype, val):
        return (i, t0 + timedelta(minutes=ts_min), uid, etype, float(val))

    batch1 = [ev(1, 0, 1, "view", 10), ev(2, 5, 1, "error", 1),  # closes u1
              ev(3, 0, 2, "view", 20), ev(4, 7, 2, "click", 5)]
    batch2 = [ev(5, 30, 1, "view", 99),   # after close — must be ignored
              ev(6, 40, 2, "view", 7)]    # u2 last event at t+40min
    heartbeat = [ev(7, 24 * 60, 3, "view", 0)]  # watermark >> u2+gap

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    ingest = tmp_path / "in"
    ingest.mkdir()
    base = _time.time() - 600
    for i, rows in enumerate((batch1, batch2, heartbeat)):
        df = spark.createDataFrame(rows, schema)
        stage = str(tmp_path / f"_s{i}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = str(ingest / f"b{i}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (base + 60 * i, base + 60 * i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ingest / "*.parquet"))
    )
    q = (
        stateful_sessions_with_timeout(stream, gap_s=3600)  # 1h gap
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("tout_sessions")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["user_id"]: r for r in spark.sql(
        "SELECT * FROM tout_sessions").collect()}
    assert rows[1]["ended_by"] == "signal"
    assert rows[1]["n_events"] == 2 and rows[1]["total_value"] == 11.0
    assert rows[2]["ended_by"] == "timeout"
    assert rows[2]["n_events"] == 3 and rows[2]["total_value"] == 32.0
    # one emission per closed key, nothing for the heartbeat user yet
    assert set(rows) == {1, 2}


def test_curation_checkpoint_restart_no_double_apply(spark, tmp_path):
    """Durable-replay proof for the incremental funnel (r4 verdict #5):
    stop the file-source stream after two of three arrivals, RESTART
    it from the same checkpoint with a third file present — only the
    unseen file is processed (checkpointed batches never re-apply to
    the curated/signature tables), the final state equals one-shot
    batch curation, and a manual foreachBatch replay of an
    already-committed arrival (a sink retry whose checkpoint commit
    was lost mid-crash) leaves every state table unchanged. Reference
    analog: Temporal's durable replay
    (interactive_research_workflow.py:254-318)."""
    import os

    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.pipeline.curation import curate
    from ai_iceberg_demo_spark.streaming.incremental import (
        BAND_INDEX,
        CURATED,
        NEAR_DUP_LINKS,
        SIGNATURES,
        curation_batch_sink,
        incremental_curation_sink,
        stage_batch_files,
    )

    state = str(tmp_path / "state")
    ckpt = os.path.join(state, "ckpt")
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    bounds = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    step = (hi - lo) // 3 + 1
    batches = [
        docs.filter(
            (F.col("doc_id") >= lo + i * step) & (F.col("doc_id") < lo + (i + 1) * step)
        )
        for i in range(3)
    ]

    def run_available(ingest):
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(ingest, "*.parquet"))
        )
        q = (
            incremental_curation_sink(stream, state, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)

    # phase 1: two arrivals, then the stream stops
    ingest = stage_batch_files(state, batches[:2])
    run_available(ingest)
    phase1_count = spark.read.parquet(os.path.join(state, CURATED)).count()
    assert phase1_count > 0

    # phase 2: third file lands; restart from the SAME checkpoint
    stage_batch_files(state, [batches[2]], start_idx=2)
    run_available(ingest)

    got = spark.read.parquet(os.path.join(state, CURATED))
    want = curate(docs)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # no doc double-applied anywhere
    assert got.groupBy("doc_id").count().filter("count > 1").count() == 0
    sigs = spark.read.parquet(os.path.join(state, SIGNATURES))
    assert sigs.count() == sigs.distinct().count() == got.count()

    # a retry of an already-committed batch (lost checkpoint commit)
    # must be a no-op on every state table
    before = {
        t: spark.read.parquet(os.path.join(state, t)).count()
        for t in (CURATED, SIGNATURES, BAND_INDEX, NEAR_DUP_LINKS)
    }
    curation_batch_sink(state)(batches[0], batch_id=0)
    after = {
        t: spark.read.parquet(os.path.join(state, t)).count()
        for t in (CURATED, SIGNATURES, BAND_INDEX, NEAR_DUP_LINKS)
    }
    assert after == before


def test_wap_checkpoint_restart_no_double_publish(spark, tmp_path):
    """t28's gate under restart: two event batches publish, the stream
    stops, a third file lands, and the restarted stream (same
    checkpoint) audits ONLY the new batch — published holds each event
    exactly once and the audit log has one check-set per batch."""
    import os

    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.streaming.incremental import (
        AUDIT_LOG,
        PUBLISHED,
        stage_batch_files,
        wap_gated_sink,
    )

    state = str(tmp_path / "state")
    ckpt = os.path.join(state, "ckpt")
    ev = load_table(spark, "events", SF_DIR).select("event_id", "event_type", "value")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]

    def run_available(ingest):
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(ingest, "*.parquet"))
        )
        q = wap_gated_sink(stream, state, ckpt).trigger(availableNow=True).start()
        q.awaitTermination(600)

    ingest = stage_batch_files(state, batches[:2])
    run_available(ingest)
    stage_batch_files(state, [batches[2]], start_idx=2)
    run_available(ingest)

    pub = spark.read.parquet(os.path.join(state, PUBLISHED))
    assert pub.count() == ev.count()
    assert pub.groupBy("event_id").count().filter("count > 1").count() == 0
    audit = spark.read.parquet(os.path.join(state, AUDIT_LOG))
    per_batch = {
        r["batch_id"]: r["count"]
        for r in audit.groupBy("batch_id").count().collect()
    }
    # batch 0 bootstraps (2 checks); later batches add the drift check
    assert per_batch == {0: 2, 1: 3, 2: 3}


def test_streaming_drift_alarm_fires_only_on_shifted_batch(spark):
    """t36: batch 1 (same distribution as baseline) must log clean;
    batch 2 (planted +0.5 on dim 0) must alarm with dim-0-sized z —
    and only its shifted dimension counts as drifted."""
    import os

    from ai_iceberg_demo_spark.streaming.incremental import (
        DRIFT_LOG,
        run_drift_stream,
    )

    state = run_drift_stream(spark, SF_DIR)
    log = {
        r["batch_id"]: r
        for r in spark.read.parquet(os.path.join(state, DRIFT_LOG)).collect()
    }
    assert set(log) == {1, 2}
    assert log[1]["alarm"] is False and log[1]["n_drifted"] == 0
    assert log[2]["alarm"] is True and log[2]["n_drifted"] == 1
    assert log[2]["max_abs_z"] > 10  # +0.5 on a ~unit-scale component
    assert log[1]["n_dims"] == log[2]["n_dims"] == 64


def test_streaming_sketch_final_batch_equals_batch_mode(spark):
    """t37: after the last micro-batch, the accumulated sketch's probe
    estimates must equal a16's one-shot batch estimates over the same
    corpus — cell-wise mergeability IS stream≡batch for sketches."""
    from ai_iceberg_demo_spark.operators.aggregates import a16_countmin_probe
    from ai_iceberg_demo_spark.streaming.incremental import t37_streaming_sketch

    log = t37_streaming_sketch(spark, SF_DIR).collect()
    final = {r["token"]: r["estimate"] for r in log if r["batch_id"] == 2}
    batch = {
        r["token"]: r["estimate"]
        for r in a16_countmin_probe(spark, SF_DIR).collect()
        if r["token"] in final
    }
    assert final == batch
    # estimates are monotone in ingested batches
    by_token = {}
    for r in log:
        by_token.setdefault(r["token"], {})[r["batch_id"]] = r["estimate"]
    for est in by_token.values():
        assert est[0] <= est[1] <= est[2]


def test_cusum_alarms_only_inside_planted_incident(spark):
    """t38: the CUSUM alarm must first fire on or after the planted
    incident start (no false positives on the stationary prefix), fire
    within 4 days of it (detection latency bound), and the statistic
    must be strictly positive from the shift onward."""
    from ai_iceberg_demo_spark.streaming.events import (
        _CUSUM_SHIFT_DAY,
        t38_cusum_changepoint,
    )

    rows = sorted(
        t38_cusum_changepoint(spark, SF_DIR).collect(), key=lambda r: r["day"]
    )
    alarms = [r["day"] for r in rows if r["alarm"]]
    assert alarms, "planted shift never alarmed"
    assert min(alarms) >= _CUSUM_SHIFT_DAY
    shifted = [r for r in rows if r["day"] >= _CUSUM_SHIFT_DAY]
    assert min(alarms) <= shifted[min(3, len(shifted) - 1)]["day"]
    assert all(r["cusum"] > 0 for r in shifted)


def test_negative_samples_never_collide_and_are_complete(spark):
    """u28: every preference pair gets exactly 3 negatives; no negative
    ever equals that user's chosen or rejected item (the exact
    order-statistics exclusion); draws are deterministic across
    repeated runs."""
    from ai_iceberg_demo_spark.streaming.events import (
        t34_preference_pairs,
        u28_negative_samples,
    )

    negs = u28_negative_samples(spark, SF_DIR).collect()
    pairs = t34_preference_pairs(spark, SF_DIR).collect()
    assert len(negs) == 3 * len(pairs)
    by_user = {}
    for r in negs:
        assert r["negative_item"] != r["chosen_item"]
        assert r["negative_item"] != r["rejected_item"]
        by_user.setdefault(r["user_id"], set()).add(r["neg_rank"])
    assert all(v == {1, 2, 3} for v in by_user.values())
    again = {
        (r["user_id"], r["neg_rank"]): r["negative_item"]
        for r in u28_negative_samples(spark, SF_DIR).collect()
    }
    assert again == {
        (r["user_id"], r["neg_rank"]): r["negative_item"] for r in negs
    }


def test_negative_samples_same_item_pair_draws_from_nv_minus_1(spark, tmp_path):
    """The same-item edge (VERDICT r5 #2): a user whose argmax and
    argmin ratings land on the SAME item excludes only ONE vocab rank,
    so the draw space is nv-1 — the old nv-2 modulo over-shifted past
    the duplicate rank and silently dropped an innocent item.  Plants
    such a user and checks the drawn negatives against the exact
    order-statistics arithmetic computed independently in Python."""
    import hashlib
    import json

    import pandas as pd

    from ai_iceberg_demo_spark.streaming.events import u28_negative_samples

    items = ["apple", "banana", "cherry", "date", "elder", "fig", "grape"]
    rows = []
    eid = 0
    # normal users: two distinct items each, keeps vocab populated
    for uid, (hi, lo) in enumerate([(0, 3), (1, 4), (2, 5), (3, 6)], start=1):
        for item, rating in ((items[hi], 5.0), (items[lo], 1.0)):
            rows.append((eid, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=eid),
                         uid, "rate", rating, json.dumps({"k": item})))
            eid += 1
    # the planted user: item "cherry" rated twice (max AND min), plus a
    # middle-rated distinct item so the dup isn't the only rating
    dup_uid = 99
    for item, rating in (("cherry", 5.0), ("date", 3.0), ("cherry", 1.0)):
        rows.append((eid, pd.Timestamp("2024-01-01") + pd.Timedelta(hours=eid),
                     dup_uid, "rate", rating, json.dumps({"k": item})))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"])
    sf_dir = str(tmp_path / "planted")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")

    out = u28_negative_samples(spark, sf_dir).collect()
    dup_rows = sorted(
        (r for r in out if r["user_id"] == dup_uid), key=lambda r: r["neg_rank"]
    )
    assert len(dup_rows) == 3
    assert all(r["chosen_item"] == r["rejected_item"] == "cherry" for r in dup_rows)
    # independent order-statistics replay: ONE excluded rank, draw mod nv-1
    vocab = sorted(items)
    nv = len(vocab)
    e1 = vocab.index("cherry")
    for r in dup_rows:
        h = hashlib.md5(f"{dup_uid}#{r['neg_rank']}".encode()).hexdigest()
        idx0 = int(h[:8], 16) % (nv - 1)
        idx = idx0 + 1 if idx0 >= e1 else idx0
        assert r["negative_item"] == vocab[idx]
        assert r["negative_item"] != "cherry"


def test_sink_retry_is_idempotent_for_wap_drift_and_sketch(spark, tmp_path):
    """A foreachBatch retry that re-runs an already-committed batch_id
    (checkpoint commit lost mid-crash) must leave every state table
    IDENTICAL — the batch_id-partitioned dynamic overwrite replaces the
    batch's own rows instead of doubling them. Covers the WAP published
    store, the drift moments/log, and the sketch cells/log — the three
    sinks whose blind-append spelling would silently double-count."""
    import os

    from pyspark.sql import functions as F

    from ai_iceberg_demo_spark.streaming.incremental import (
        AUDIT_LOG,
        DRIFT_LOG,
        MOMENTS,
        PUBLISHED,
        SKETCH,
        SKETCH_LOG,
        drift_batch_sink,
        sketch_batch_sink,
        wap_batch_sink,
    )

    def snapshot(state, tables):
        out = {}
        for t in tables:
            path = os.path.join(state, t)
            df = spark.read.parquet(path)
            out[t] = sorted(map(str, df.collect()))
        return out

    # WAP
    ev = load_table(spark, "events", SF_DIR).select("event_id", "event_type", "value")
    b0 = ev.filter(F.col("event_id") % 3 == 0)
    wap_state = str(tmp_path / "wap")
    sink = wap_batch_sink(wap_state)
    sink(b0, 0)
    before = snapshot(wap_state, (PUBLISHED, AUDIT_LOG))
    sink(b0, 0)  # retry of the SAME batch id
    assert snapshot(wap_state, (PUBLISHED, AUDIT_LOG)) == before

    # drift
    emb = load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    d_state = str(tmp_path / "drift")
    dsink = drift_batch_sink(d_state)
    dsink(emb.filter(F.col("vec_id") % 3 == 0), 0)
    dsink(emb.filter(F.col("vec_id") % 3 == 1), 1)
    before = snapshot(d_state, (MOMENTS, DRIFT_LOG))
    dsink(emb.filter(F.col("vec_id") % 3 == 1), 1)
    assert snapshot(d_state, (MOMENTS, DRIFT_LOG)) == before

    # sketch
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    s_state = str(tmp_path / "sketch")
    ssink = sketch_batch_sink(s_state)
    ssink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    before = snapshot(s_state, (SKETCH, SKETCH_LOG))
    ssink(docs.filter(F.col("doc_id") % 2 == 0), 0)
    assert snapshot(s_state, (SKETCH, SKETCH_LOG)) == before


def test_ewma_band_flags_only_the_planted_spike(spark):
    """t51: the EWMA control band must flag exactly the planted
    one-day incident — the day after must NOT flag (alpha=0.2 damps
    the spike's pull on the smoothed line enough that the return to
    baseline stays inside the band), and the seed day is never
    flagged by construction."""
    from ai_iceberg_demo_spark.streaming.events import (
        _EWMA_SPIKE_DAY,
        t51_ewma_band,
    )
    from tests.conftest import SF_DIR

    rows = sorted(t51_ewma_band(spark, SF_DIR).collect(), key=lambda r: r["day"])
    flagged = [r["day"] for r in rows if r["anomaly"]]
    assert flagged == [_EWMA_SPIKE_DAY]
    assert rows[0]["anomaly"] is False and rows[0]["residual"] == 0.0
    # the smoothed line must move toward the spike but stay well under it
    spike_row = next(r for r in rows if r["day"] == _EWMA_SPIKE_DAY)
    assert spike_row["ewma"] < spike_row["n_events"]
    assert spike_row["residual"] > 0


def test_watermark_tuning_curve_is_monotone_and_saturates(spark):
    """t62: per event_type, pct_admitted must be non-decreasing in the
    delay, reach exactly 1.0 at 1800s (the jitter bound — endpoint_ok),
    and the p99 recommendation must sit where the curve says it does:
    admitting at ceil(p99) captures >= 99%."""
    import math

    from ai_iceberg_demo_spark.streaming.events import t62_watermark_tuning
    from tests.conftest import SF_DIR

    rows = t62_watermark_tuning(spark, SF_DIR).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for t, grp in by_type.items():
        grp.sort(key=lambda r: r["delay_s"])
        pcts = [r["pct_admitted"] for r in grp]
        assert pcts == sorted(pcts), t
        assert grp[-1]["pct_admitted"] == 1.0, t
        assert all(r["endpoint_ok"] for r in grp), t
        p99 = grp[0]["p99_late_s"]
        assert 0 <= p99 <= 1800
        # the curve and the quantile must tell the same story at the
        # candidate just above p99
        for r in grp:
            if r["delay_s"] >= math.ceil(p99):
                assert r["pct_admitted"] >= 0.99, (t, r)


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
