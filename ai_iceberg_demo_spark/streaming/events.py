"""Event stream processing — SURVEY.md §2.11 (T1–T7 + windows/watermarks).

The reference produces JSON event envelopes `{event_type, workflow_id,
timestamp, data}` at 16 pipeline stages (`redpanda_activity.py:85-121`),
routes them to per-category topics by substring matching (`:42-70`),
and documents consumers that filter by event_type (`REDPANDA.md:128-140`).
It never aggregates its stream — the engine adds the windowed /
watermarked / sessionized surface any stream consumer needs.

Design: every transformation here is defined on a plain DataFrame, so
the SAME function body serves batch (oracle-checked below) and
streaming (`readStream` → fn(df) → `writeStream`) — the Structured
Streaming contract. Kafka wiring (`format("kafka")`) is gated on the
connector jar being present (not in this container); tests drive the
streaming path with file/memory sources instead
(tests/test_streaming.py).

Scale notes: streaming aggs are keyed by (window, event_type/user) —
state partitions by hash across executors; the watermark bounds state
size; tumbling windows assign one pane per row (no amplification),
sliding assigns size/slide panes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, long_metrics, persist_once

REGISTRY = Registry()

#: the weak "active intent" label the eval queries score against, as
#: SQL text (1 for click/purchase/signup, else 0); callers cast it
_INTENT = "CASE WHEN event_type IN ('click', 'purchase', 'signup') THEN 1 ELSE 0 END"


# ---------------------------------------------------------------------------
# Transform library (batch == streaming bodies)
# ---------------------------------------------------------------------------


def route_topic(df: DataFrame) -> DataFrame:
    """Per-row topic routing by event-category substring match
    (redpanda_activity.py:42-70). The `topic` column is exactly what the
    Kafka sink uses for per-row topic routing."""
    return df.withColumn(
        "topic",
        F.when(F.col("event_type").contains("error"), "app.errors")
        .when(F.col("event_type").isin("signup"), "app.lifecycle")
        .when(F.col("event_type").isin("click", "view"), "app.engagement")
        .otherwise("app.commerce"),
    )


def build_envelope(df: DataFrame) -> DataFrame:
    """JSON event envelope (redpanda_activity.py:114-121): the exact
    `{event_type, workflow_id, timestamp, data}` shape, serialized with
    to_json for a Kafka `value` column."""
    return df.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_type"),
                F.col("user_id").cast("string").alias("workflow_id"),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("timestamp"),
            )
        ).alias("value"),
    )


def filter_event_types(df: DataFrame, needle: str) -> DataFrame:
    """Consumer-side stream filter: jq 'select(.event_type | contains(x))'
    (REDPANDA.md:128-140)."""
    return df.filter(F.col("event_type").contains(needle))


def tumbling_counts(df: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event_type — the aggregation the
    reference's consumers imply. Same body batch or streaming (add
    `withWatermark` upstream for the streaming case)."""
    return (
        df.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events fixture.

    The raw schema is read from the parquet footer itself (NOT assumed
    — the fixture's physical ts type has drifted between driver rounds:
    TIMESTAMP(NANOS) → timestamp[us]/NTZ), then normalized to the same
    canonical TIMESTAMP_LTZ the batch loader produces, so stream≡batch
    equality holds under any fixture vintage. Kafka source drops in by
    swapping this reader."""
    import os

    from ai_iceberg_demo_spark.tables import normalize_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # glob (not bare file path): FileStreamSource requires a directory or
    # glob so it can infer a directory basePath
    stream = spark.readStream.schema(raw).parquet(os.path.join(sf_dir, "events*.parquet"))
    return normalize_schema(stream)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """The genuine Structured Streaming form: readStream + 10-minute
    watermark feeding the SAME tumbling_counts body the batch oracle
    checks. Used by the streaming smoke tests."""
    watermarked = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return tumbling_counts(watermarked, width)


# ---------------------------------------------------------------------------
# Oracle-checked batch queries
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t2_topic_routing",
    survey_ref="T2",
    doc="topic routing by event category with default fallback "
    "(redpanda_activity.py:42-70).",
    oracle="""
        SELECT event_id, event_type,
               CASE WHEN event_type LIKE '%error%' THEN 'app.errors'
                    WHEN event_type IN ('signup') THEN 'app.lifecycle'
                    WHEN event_type IN ('click', 'view') THEN 'app.engagement'
                    ELSE 'app.commerce' END AS topic
        FROM events
    """,
)
def t2_topic_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return route_topic(ev).select("event_id", "event_type", "topic")


@REGISTRY.register(
    name="t1_event_envelope",
    survey_ref="T1,F19,S4",
    doc="JSON envelope construction + serialization for the Kafka value "
    "column (redpanda_activity.py:114-121).",
    oracle="""
        SELECT event_id,
               TO_JSON({'event_type': event_type,
                        'workflow_id': CAST(user_id AS VARCHAR),
                        'timestamp': STRFTIME(ts, '%Y-%m-%dT%H:%M:%S')}) AS value
        FROM events
    """,
)
def t1_event_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_envelope(load_table(spark, "events", sf_dir))


@REGISTRY.register(
    name="t3_stream_filter",
    survey_ref="T3",
    doc="event-type contains filter, consumer side (REDPANDA.md:128-140).",
    oracle="""
        SELECT event_id, user_id, event_type FROM events
        WHERE event_type LIKE '%ick%'
    """,
)
def t3_stream_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return filter_event_types(ev, "ick").select("event_id", "user_id", "event_type")


@REGISTRY.register(
    name="t8_tumbling_window",
    survey_ref="§2.11 windows",
    doc="tumbling 1-hour window counts per event_type — batch-checked body "
    "of the streaming agg (same fn runs under readStream + watermark).",
    oracle="""
        SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    bench=True,
)
def t8_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, "events", sf_dir))


@REGISTRY.register(
    name="t9_sliding_window",
    survey_ref="§2.11 windows",
    doc="sliding 1-hour/30-minute window counts — each event lands in two "
    "panes; the oracle materializes both pane assignments explicitly.",
    oracle="""
        WITH panes AS (
            SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS window_start, event_type, value FROM events
            UNION ALL
            SELECT TIME_BUCKET(INTERVAL '1 hour', ts - INTERVAL '30 minutes') + INTERVAL '30 minutes'
                       AS window_start, event_type, value FROM events
        )
        SELECT window_start, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        FROM panes GROUP BY 1, 2
    """,
)
def t9_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@REGISTRY.register(
    name="t101_native_session_window",
    survey_ref="§2.11 windows; t10's NATIVE-operator twin — t10 spells "
    "sessionization relationally (lag+cumsum), this pins Spark's "
    "built-in session_window() itself, the form that runs under "
    "Structured Streaming with watermark-bounded state",
    doc="per-user 30-minute-gap sessions via the native "
    "session_window(ts, gap) aggregation: n_events, value total, and "
    "the window's OWN [start, end) bounds — end = last event + gap, "
    "the eviction deadline the streaming state store uses, which the "
    "oracle replays as MAX(ts) + 30 min over the lag+cumsum "
    "sessionization (t10's spelling, >= gap boundary discipline). "
    "Hash equality here proves the native operator and the "
    "relational twin sessionize identically, so t5/t10's batch "
    "oracles transfer to the native streaming path "
    "(stream≡batch pinned in tests/test_streaming.py with a "
    "watermark-advancing sentinel). Scale: one user-keyed shuffle; "
    "session merge is sort-local within the key partition.",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '30 minutes' OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), sessions AS (
            -- (ts, event_id) tiebreak matches the marked CTE: with
            -- duplicate (user_id, ts) rows at a session boundary a
            -- ts-only ROWS frame could assign a tied row to the prior
            -- session nondeterministically (r8 ADVICE).
            SELECT user_id, ts, value,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM marked
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        FROM sessions GROUP BY user_id, sid
    """,
)
def t101_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return session_window_agg(ev)


def session_window_agg(events: DataFrame) -> DataFrame:
    """The session_window aggregation body, shared batch/streaming —
    identical plan both ways is what the t101 pin certifies."""
    return (
        events.groupBy(
            F.col("user_id"), F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The genuine streaming form: watermarked source feeding the SAME
    session_window body; sessions emit (append mode) once the
    watermark passes their end."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return session_window_agg(stream)


@REGISTRY.register(
    name="t10_session_window",
    survey_ref="§2.11 windows,T5",
    doc="sessionization per user with 30-minute gap — lag+cumsum session "
    "ids; the streaming twin is session_window(ts, gap) / "
    "applyInPandasWithState (streaming.stateful).",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '30 minutes' OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), sessions AS (
            SELECT user_id, event_id, ts, value,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sessions GROUP BY user_id, session_id
    """,
)
def t10_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    # unix_micros, not unix_timestamp or cast("long"): the fixture has
    # sub-second timestamps, and whole-second truncation would diverge
    # from the oracle's full-precision `> INTERVAL '30 minutes'` on any
    # gap inside (1800s, 1801s). Input is always TIMESTAMP_LTZ here
    # (tables.normalize_schema), where unix_micros is exact and legal.
    # >= (not >): session_window merges two events iff the gap is
    # STRICTLY under the gap duration (t2 < t1 + gap — windows are
    # [start, end)), so the lag+cumsum twin must start a new session at
    # exactly 30:00.000000 too; with > the two forms would diverge on
    # that single microsecond value.
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = marked.withColumn("session_id", F.sum("is_new").over(wsum))
    return sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def session_counts(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session-window sessionization — the genuine streaming twin
    of t10_session_window's batch lag+cumsum form. Same body batch or
    streaming (F.session_window works in both); under readStream the
    state store merges overlapping [ts, ts+gap) windows per user and the
    watermark expires closed sessions, so state is bounded by gap +
    watermark horizon — the scale contract sessionization needs.

    Gap semantics match the batch twin EXACTLY at full microsecond
    precision: both forms merge two events iff the gap is strictly
    under ``gap`` (session_window merges on t2 < t1 + gap since windows
    are [start, end); the lag+cumsum twin starts a new session on
    gap >= 30 min) — aligned including a gap of exactly 30:00.000000.
    The stream≡batch test additionally pins equality on the fixture.
    """
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_close"),  # last event + gap, NOT max(ts)
            "n_events",
        )
    )


def streaming_session_counts(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """readStream + watermark feeding the same session_counts body."""
    watermarked = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    return session_counts(watermarked, gap)


def progress_counts(df: DataFrame) -> DataFrame:
    """T4 progress streaming (research_manager.py:453-483): running
    {current, total}-style completion counters per workflow key —
    a streaming groupBy in update mode; each completed task bumps the
    group's count incrementally."""
    return df.groupBy("user_id").agg(
        F.count("*").alias("current"),
        F.max("event_id").alias("last_event_id"),
    )


def resilient_foreach_batch(df, write_fn, errors: list | None = None):
    """T7 at-least-once, non-blocking sink (redpanda_activity.py:127-143):
    per-microbatch delivery wrapped in try/except — a failed publish is
    recorded and SWALLOWED so the pipeline never dies on sink errors,
    exactly the reference's graceful-degradation stance (E7). Returns
    the started StreamingQuery."""
    sink_errors = errors if errors is not None else []

    def write_batch(batch_df, batch_id):
        try:
            write_fn(batch_df, batch_id)
        except Exception as exc:  # noqa: BLE001 — deliberate swallow, E7
            sink_errors.append((batch_id, str(exc)))

    return df.writeStream.foreachBatch(write_batch).start()


# --- T11: stream-stream join (attribution) ------------------------------


def attribution_join(views: DataFrame, clicks: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """View→click attribution: each click joins the same user's views
    in the preceding ``horizon``. The SAME body serves batch and
    streaming; for streaming, watermark both inputs (see
    streaming_attribution) and Spark's stream-stream inner join keeps
    only ``horizon`` of view state per user — bounded state, the thing
    the reference's consumer-side joins (REDPANDA.md pipelines) can't
    express at all.
    """
    v = views.select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id", F.col("v_ts").alias("view_ts"), F.col("c_ts").alias("click_ts")
    )


def streaming_attribution(spark: SparkSession, sf_dir: str, horizon: str = "2 hours") -> DataFrame:
    """The genuine stream-stream form: the events stream split into a
    views stream and a clicks stream (a self-join of the source), both
    watermarked so the join state expires."""
    src = read_events_stream(spark, sf_dir)
    views = src.filter(F.col("event_type") == "view").withWatermark("ts", "4 hours")
    clicks = src.filter(F.col("event_type") == "click").withWatermark("ts", "4 hours")
    return attribution_join(views, clicks, horizon)


def streaming_attribution_left(
    spark: SparkSession, sf_dir: str, horizon: str = "2 hours"
) -> DataFrame:
    """LEFT-OUTER stream-stream attribution: every view emits — joined
    to its clicks inside the horizon, or with NULL click columns once
    the watermark passes view_ts + horizon (emit-on-timeout). This is
    the streaming-join mode t11's inner join doesn't exercise: the
    engine must hold the unmatched left row in state, and the
    watermark is what authorizes declaring it click-less — without it
    the row could never be emitted (a later click might still arrive)
    and state could never be dropped. Completes §2.11's join matrix:
    t42 stream-static, t11 stream-stream inner, this the outer form."""
    src = read_events_stream(spark, sf_dir)
    views = src.filter(F.col("event_type") == "view").withWatermark("ts", "4 hours")
    clicks = src.filter(F.col("event_type") == "click").withWatermark("ts", "4 hours")
    v = views.select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon}")),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id",
        F.col("v_ts").alias("view_ts"), F.col("c_ts").alias("click_ts"),
    )


@REGISTRY.register(
    name="t100_attribution_left_outer",
    survey_ref="§2.11 extras (stream-stream LEFT-OUTER join; completes "
    "the join-mode matrix with t11 inner and t42 stream-static)",
    doc="view→click attribution where EVERY view emits — clicks within "
    "the 2h horizon attached, click-less views kept with NULL click "
    "columns. Batch twin of the watermarked left-outer stream-stream "
    "join (streaming_attribution_left): online, the NULL row is the "
    "emit-on-timeout the watermark authorizes once it passes view_ts "
    "+ horizon, and the same watermark bounds the join state "
    "(stream≡batch pinned in tests/test_streaming.py with a "
    "watermark-advancing sentinel). At 100 TB the state store holds "
    "one horizon of views per user partition — the conversion-rate "
    "denominator every attribution pipeline needs (unmatched views "
    "are most of the traffic and exactly the rows an inner join "
    "silently drops).",
    oracle="""
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               v.ts AS view_ts, c.ts AS click_ts
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    """,
)
def t100_attribution_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    return v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 2 hours")),
        "leftOuter",
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "click_id",
        F.col("v_ts").alias("view_ts"), F.col("c_ts").alias("click_ts"),
    )


@REGISTRY.register(
    name="t11_attribution_join",
    survey_ref="§2.9 extras (stream-stream join)",
    doc="view→click attribution pairs within a 2h horizon — the batch "
    "twin of the watermarked stream-stream inner join "
    "(streaming_attribution; equality proven in tests/test_streaming.py).",
    oracle="""
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               v.ts AS view_ts, c.ts AS click_ts
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
    """,
)
def t11_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return attribution_join(
        ev.filter(F.col("event_type") == "view"), ev.filter(F.col("event_type") == "click")
    )


# --- T12: streaming dedup within watermark ------------------------------


def dedup_stream(stream: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """At-least-once → effectively-once: drop re-deliveries of the same
    key seen within the watermark. State is bounded by the watermark
    horizon (plain dropDuplicates on a stream keeps ALL keys forever —
    unusable at 100 TB/day; this is the scale-safe form)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


@REGISTRY.register(
    name="t12_stream_dedup",
    survey_ref="§2.9 extras (streaming dedup), D1",
    doc="redelivered-event dedup: the batch twin doubles the stream "
    "(union all) and keeps one row per event_id — what "
    "dedup_stream/dropDuplicatesWithinWatermark guarantees online with "
    "watermark-bounded state (test drives the real stream over "
    "duplicated input files).",
    oracle="""
        SELECT event_id, ts, user_id, event_type, value, props FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts) AS rn
            FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
        ) WHERE rn = 1
    """,
)
def t12_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    redelivered = ev.unionAll(ev)
    return redelivered.dropDuplicates(["event_id"])


# --- T13: incremental materialized view (foreachBatch partials) ---------


def user_view_sink(stream: DataFrame, out_dir: str, checkpoint: str):
    """Incrementally maintain a per-user (n, total) view from the event
    stream. Each micro-batch writes its PARTIAL aggregate to
    ``{out_dir}/batch=<id>`` with per-batch overwrite — a retried batch
    rewrites the same directory, so the sink is idempotent
    (effectively exactly-once on top of the checkpoint's at-least-once
    replay). Readers merge partials on read (read_user_view); a
    compaction job can fold old batch dirs without blocking the writer.
    This is the streaming twin of the reference's accumulate-usage
    pattern (serializable_model_activity.py:14-64) — kept exact by
    aggregating value in DECIMAL, so partial-then-final equals the
    one-shot batch aggregate bit-for-bit.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(14,2)")).alias("total"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def read_user_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge-on-read of the partial-aggregate view: sum the per-batch
    partials (decimal → exact, order-free)."""
    return (
        spark.read.parquet(f"{out_dir}/batch=*")
        .groupBy("user_id")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("total").cast("double").alias("total_value"),
        )
    )


# --- T15: time-series resample + gap fill -------------------------------


@REGISTRY.register(
    name="t15_resample_gap_fill",
    survey_ref="§2.9 extras (resample)",
    doc="hourly resample of the event stream per user with dense-grid "
    "gap fill: missing hours appear with n=0 and the hourly total "
    "carried forward (last_value IGNORE NULLS). The grid is generated "
    "per user from its own [min,max] span — sequence+explode, bounded "
    "by span×users, never a cross join against a global calendar.",
    oracle="""
        WITH hourly AS (
            SELECT user_id, DATE_TRUNC('hour', ts) AS hr,
                   COUNT(*) AS n, SUM(CAST(value AS DECIMAL(14,2))) AS v
            FROM events GROUP BY user_id, DATE_TRUNC('hour', ts)
        ), span AS (
            SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM hourly GROUP BY user_id
        ), grid AS (
            SELECT user_id, UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 HOUR)) AS hr
            FROM span
        )
        SELECT g.user_id, g.hr, CAST(COALESCE(h.n, 0) AS BIGINT) AS n,
               CAST(LAST_VALUE(h.v IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS carried
        FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hr = h.hr
    """,
)
def t15_resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(14,2)")).alias("v"),
    )
    span = hourly.groupBy("user_id").agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    joined = grid.join(hourly, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hr",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("v", ignorenulls=True).over(w).cast("double").alias("carried"),
    )


# --- T13: watermark late-data audit -------------------------------------

WATERMARK_DELAY_US = 600_000_000  # 10 minutes, matching the stream twins
_JITTER_S = 1800  # deterministic arrival jitter bound (30 min)
_SHARD_US = 86_400_000_000  # day-sized arrival shards (the table's
# natural time-partition at scale)


def arrival_order(event_id) -> "F.Column":
    """Deterministic simulated arrival time (µs): event time plus a
    key-hashed jitter in [0, 30 min). The fixture stream is perfectly
    time-ordered; real multi-source ingestion is not — this bounded
    interleave stands in for network/source lag so watermark semantics
    have something to classify."""
    jitter = (
        F.conv(F.substring(F.md5(event_id.cast("string")), 1, 8), 16, 10).cast("long")
        % _JITTER_S
    )
    return F.unix_micros(F.col("ts")) + jitter * 1_000_000


def _with_running_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, ts, run_prev): every event with the running
    event-time max over everything that ARRIVED before it — t13's
    two-phase shape (per-day-shard window + broadcast prefix max over
    shard tops, bit-identical to the global window, no total-order
    funnel), shared by the t13 classifier and the t62 delay-tuning
    curve."""
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "ts", "event_id", arrival_order(F.col("event_id")).alias("arrival_us")
    )
    sharded = ev.withColumn("shard", F.expr(f"arrival_us DIV {_SHARD_US}"))

    w_in = (
        W.partitionBy("shard")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    with_prev = sharded.withColumn("prev_in", F.max("ts").over(w_in))

    shard_tops = sharded.groupBy("shard").agg(F.max("ts").alias("smax"))
    w_sh = W.orderBy("shard").rowsBetween(W.unboundedPreceding, -1)
    prefix = shard_tops.select("shard", F.max("smax").over(w_sh).alias("prev_shards"))

    joined = with_prev.join(F.broadcast(prefix), "shard")
    # explicit CASE (not greatest()) so NULL handling is identical to
    # the oracle's MAX-over-window semantics on both engines
    run_prev = (
        F.when(F.col("prev_in").isNull(), F.col("prev_shards"))
        .when(F.col("prev_shards").isNull(), F.col("prev_in"))
        .when(F.col("prev_in") >= F.col("prev_shards"), F.col("prev_in"))
        .otherwise(F.col("prev_shards"))
    )
    return joined.withColumn("run_prev", run_prev)



@REGISTRY.register(
    name="t13_watermark_audit",
    survey_ref="§2.11 watermarks (policy audit)",
    doc="watermark tuning audit: classify every event as on_time / "
    "late_accepted / dropped under a 10-minute watermark, given a "
    "deterministic bounded-jitter arrival order (the batch replay of "
    "what `withWatermark('ts','10 minutes')` would admit or drop — "
    "the query that sizes a delay before committing it to the stream). "
    "The running event-time max over arrival order is computed "
    "two-phase (u9's shape): per-day-shard window + broadcast "
    "prefix-max over the tiny shard-top table — bit-identical to the "
    "global window (tested) with NO total-order funnel; day shards are "
    "exactly the table's time partitions at 100 TB.",
    oracle=f"""
        WITH arr AS (
            SELECT event_type, ts, event_id,
                   EPOCH_US(ts) + (('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                                   % {_JITTER_S}) * 1000000 AS arrival_us
            FROM events
        ), ordered AS (
            SELECT event_type, ts,
                   MAX(ts) OVER (ORDER BY arrival_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_prev
            FROM arr
        ), cls AS (
            SELECT event_type,
                   CASE WHEN run_prev IS NULL OR ts >= run_prev THEN 'on_time'
                        WHEN EPOCH_US(ts) >= EPOCH_US(run_prev) - {WATERMARK_DELAY_US}
                             THEN 'late_accepted'
                        ELSE 'dropped' END AS status,
                   CASE WHEN run_prev IS NOT NULL AND ts < run_prev
                        THEN EPOCH_US(run_prev) - EPOCH_US(ts) END AS late_us
            FROM ordered
        )
        SELECT event_type, status,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(late_us) AS BIGINT) AS max_late_us
        FROM cls GROUP BY event_type, status
    """,
)
def t13_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    classified = _with_running_prev(spark, sf_dir).select(
        "event_type",
        F.when(
            F.col("run_prev").isNull() | (F.col("ts") >= F.col("run_prev")), "on_time"
        )
        .when(
            F.unix_micros(F.col("ts"))
            >= F.unix_micros(F.col("run_prev")) - WATERMARK_DELAY_US,
            "late_accepted",
        )
        .otherwise("dropped")
        .alias("status"),
        F.when(
            F.col("run_prev").isNotNull() & (F.col("ts") < F.col("run_prev")),
            F.unix_micros(F.col("run_prev")) - F.unix_micros(F.col("ts")),
        ).alias("late_us"),
    )
    return classified.groupBy("event_type", "status").agg(
        F.count("*").alias("n"),
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )


# --- T14: funnel + cohort retention (event analytics) -------------------


@REGISTRY.register(
    name="t14_funnel",
    survey_ref="§2.11 analytics (ordered funnel)",
    doc="strict-order conversion funnel per user: first view → first "
    "click after it → first purchase after that, with the stage "
    "reached. ONE user-keyed shuffle: events collect into a per-user "
    "time-sorted array and the funnel state machine runs as array "
    "filters map-side — not three correlated scans (the oracle's "
    "spelling, same semantics, is the 3-pass min-ts form). At 100 TB "
    "per-user event counts are bounded (sessions expire), so the "
    "arrays stay small while the shuffle stays single.",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS view_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS click_ts
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.view_ts
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS purchase_ts
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
            GROUP BY e.user_id
        )
        SELECT u.user_id, s1.view_ts, s2.click_ts, s3.purchase_ts,
               CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                         WHEN s2.user_id IS NOT NULL THEN 2
                         WHEN s1.user_id IS NOT NULL THEN 1
                         ELSE 0 END AS INT) AS stage
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN s1 ON u.user_id = s1.user_id
        LEFT JOIN s2 ON u.user_id = s2.user_id
        LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
)
def t14_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel(load_table(spark, "events", sf_dir))


def funnel(ev: DataFrame) -> DataFrame:
    """t14's (user_id, view_ts, click_ts, purchase_ts, stage) over ``ev``."""
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_type")))
    per_user = ev.groupBy("user_id").agg(arr.alias("evs"))

    def first_after(evs, etype: str, after):
        hits = F.filter(
            evs,
            lambda x: (x["event_type"] == F.lit(etype))
            & (x["ts"] > after if after is not None else F.lit(True)),
        )
        return F.element_at(hits, 1)["ts"]

    with_s1 = per_user.withColumn("view_ts", first_after(F.col("evs"), "view", None))
    with_s2 = with_s1.withColumn(
        "click_ts", first_after(F.col("evs"), "click", F.col("view_ts"))
    )
    with_s3 = with_s2.withColumn(
        "purchase_ts", first_after(F.col("evs"), "purchase", F.col("click_ts"))
    )
    stage = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .when(F.col("view_ts").isNotNull(), 1)
        .otherwise(0)
    )
    return with_s3.select(
        "user_id", "view_ts", "click_ts", "purchase_ts", stage.cast("int").alias("stage")
    )


@REGISTRY.register(
    name="t14b_retention",
    survey_ref="§2.11 analytics (cohort retention)",
    doc="cohort retention matrix: users grouped by first-activity day, "
    "distinct active users per (cohort_day, day_offset). Two partial-"
    "agg shuffles (first-day per user, then the matrix); the per-user "
    "cohort day rejoins on the same user_id key so AQE reuses the "
    "exchange layout.",
    oracle="""
        WITH first_day AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
            FROM events GROUP BY user_id
        ), activity AS (
            SELECT DISTINCT e.user_id, f.cohort_day,
                   DATE_DIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
            FROM events e JOIN first_day f ON e.user_id = f.user_id
        )
        -- cohort day as a formatted string: raw DATE columns render
        -- differently through the two engines' pandas paths (date vs
        -- midnight Timestamp) and would hash-mismatch on type alone
        SELECT STRFTIME(cohort_day, '%Y-%m-%d') AS cohort_day,
               CAST(day_offset AS INT) AS day_offset,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM activity GROUP BY cohort_day, day_offset
    """,
)
def t14b_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    first_day = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    activity = (
        ev.join(first_day, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("int").alias("day_offset"),
    ).agg(F.count("*").alias("n_users"))


# --- T25: sessionized training sequences --------------------------------


@REGISTRY.register(
    name="t25_session_sequences",
    survey_ref="§2.11 × training-data bridge",
    doc="events → sequence-model training examples: per (user, 30-min "
    "session), the time-ordered event-type sequence split into "
    "input-prefix and next-event label — the extraction step that "
    "turns the clickstream surface into supervised training data "
    "(sessions of <2 events have no label and are dropped). Session "
    "ids are t10's lag+cumsum rule (gap ≥ 30 min starts a session); "
    "the sequence assembles map-side from one user-keyed window pass "
    "+ one (user, session) partial agg — arrays are session-bounded, "
    "so they stay small at any corpus size.",
    oracle="""
        WITH marked AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             >= INTERVAL '30 minutes' OR
                             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
        ), sessions AS (
            SELECT user_id, event_id, ts, event_type,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked
        ), seqs AS (
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   LIST(event_type ORDER BY ts, event_id) AS arr
            FROM sessions GROUP BY user_id, session_id
        )
        SELECT user_id, session_id,
               ARRAY_TO_STRING(arr[1:LEN(arr) - 1], '>') AS input_seq,
               arr[LEN(arr)] AS label,
               CAST(LEN(arr) AS INT) AS n_events
        FROM seqs WHERE LEN(arr) >= 2
    """,
)
def t25_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    sessions = ev.withColumn(
        "session_id",
        F.sum(
            F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1).otherwise(0)
        ).over(wsum),
    )
    seqs = sessions.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("arr")
    )
    n = F.size("arr")
    return seqs.filter(n >= 2).select(
        "user_id",
        "session_id",
        F.concat_ws(">", F.slice("arr", 1, n - 1)).alias("input_seq"),
        F.element_at("arr", -1).alias("label"),
        n.cast("int").alias("n_events"),
    )


# --- T26: burst detection over windowed counts --------------------------

_BURST_TRAIL = 24  # trailing windows in the baseline
_BURST_Z = 3.0


@REGISTRY.register(
    name="t26_burst_detection",
    survey_ref="§2.11 analytics (anomaly alerting)",
    doc="burst detector over the t8 hourly counts: per event_type, each "
    "hour's count is scored against the mean/std of the preceding "
    f"{_BURST_TRAIL} hours and flagged at z ≥ {_BURST_Z} — the "
    "alerting query a stream consumer hangs off the windowed agg. The "
    "window runs over the (type × hour) count table (corpus-"
    "independent size), partitioned by type — never over raw events; "
    "moments round to 6 before the z so both engines agree. Hours "
    "with an incomplete or flat baseline (fewer than "
    f"{_BURST_TRAIL} predecessors, or zero variance) emit z NULL.",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type, TIME_BUCKET(INTERVAL '1 hour', ts) AS hr,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), scored AS (
            SELECT event_type, hr, n,
                   COUNT(*) OVER w AS n_base,
                   ROUND(SUM(n) OVER w / COUNT(*) OVER w, 6) AS m,
                   ROUND(SQRT(SUM(n * n) OVER w / COUNT(*) OVER w
                              - (SUM(n) OVER w / COUNT(*) OVER w)
                                * (SUM(n) OVER w / COUNT(*) OVER w)), 6) AS sd
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY hr
                         ROWS BETWEEN {_BURST_TRAIL} PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, hr, CAST(n AS BIGINT) AS n,
               CASE WHEN n_base >= {_BURST_TRAIL} AND sd > 0
                    THEN ROUND((n - m) / sd, 4) END AS z,
               CAST(CASE WHEN n_base >= {_BURST_TRAIL} AND sd > 0
                              AND (n - m) / sd >= {_BURST_Z}
                         THEN 1 ELSE 0 END AS INT) AS burst
        FROM scored
    """,
)
def t26_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-_BURST_TRAIL, -1)
    )
    cnt = F.count("*").over(w)
    m = F.round(F.sum("n").over(w) / cnt, 6)
    sd = F.round(
        F.sqrt(
            F.sum(F.col("n") * F.col("n")).over(w) / cnt
            - (F.sum("n").over(w) / cnt) * (F.sum("n").over(w) / cnt)
        ),
        6,
    )
    scored = hourly.select(
        "event_type", "hr", F.col("n").cast("bigint").alias("n"),
        cnt.alias("n_base"), m.alias("m"), sd.alias("sd"),
    )
    ok = (F.col("n_base") >= _BURST_TRAIL) & (F.col("sd") > 0)
    z = (F.col("n") - F.col("m")) / F.col("sd")
    return scored.select(
        "event_type",
        "hr",
        "n",
        F.when(ok, F.round(z, 4)).alias("z"),
        F.when(ok & (z >= _BURST_Z), 1).otherwise(0).cast("int").alias("burst"),
    )


@REGISTRY.register(
    name="t29_conversion_latency",
    survey_ref="§2.11 analytics (funnel latency)",
    doc="time-to-convert distribution for funnel completers (t14's "
    "stage-3 users): per first-touch hour cohort, how many users "
    "converted and the min/median/max seconds from first view to "
    "first purchase — the latency lens on the funnel. Built on t14's "
    "one-shuffle funnel builder; the stats aggregate its user-sized "
    "result, so the added cost is independent of event volume.",
    oracle="""
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS view_ts FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, MIN(e.ts) AS click_ts
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.view_ts
            GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, MIN(e.ts) AS purchase_ts
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.click_ts
            GROUP BY e.user_id
        ), conv AS (
            SELECT s1.user_id,
                   TIME_BUCKET(INTERVAL '1 hour', s1.view_ts) AS cohort_hr,
                   (EPOCH_US(s3.purchase_ts) - EPOCH_US(s1.view_ts)) / 1000000.0 AS secs
            FROM s1 JOIN s3 ON s1.user_id = s3.user_id
        )
        SELECT cohort_hr, CAST(COUNT(*) AS BIGINT) AS n_converted,
               ROUND(MIN(secs), 3) AS min_s,
               ROUND(MEDIAN(secs), 3) AS median_s,
               ROUND(MAX(secs), 3) AS max_s
        FROM conv GROUP BY cohort_hr
    """,
)
def t29_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    done = funnel(load_table(spark, "events", sf_dir)).filter(F.col("stage") == 3)
    secs = (
        F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("view_ts"))
    ) / 1_000_000.0
    return (
        done.select(
            F.date_trunc("hour", "view_ts").alias("cohort_hr"), secs.alias("secs")
        )
        .groupBy("cohort_hr")
        .agg(
            F.count("*").alias("n_converted"),
            F.round(F.min("secs"), 3).alias("min_s"),
            F.round(F.median("secs"), 3).alias("median_s"),
            F.round(F.max("secs"), 3).alias("max_s"),
        )
    )


# ---------------------------------------------------------------------------
# t27: A/B experiment significance (two-proportion z-test)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t27_ab_test",
    survey_ref="§2.11 analytics (experimentation)",
    doc="A/B readout with significance: users split by the standard "
    "deterministic hash (user_id%2 → control/treatment), the "
    "experimental unit is the user-day (converted = any purchase "
    "that day — cluster-randomized by user so assignment is stable), "
    "and the two-proportion z-test (pooled SE) decides at |z|≥1.96. "
    "One unit-keyed partial-agg shuffle to the per-unit flag, then a "
    "1-row closed-form stats agg — event volume never reaches the z "
    "computation, so the readout costs the same as a count at any "
    "scale.",
    oracle="""
        WITH per_unit AS (
            SELECT user_id % 2 AS variant,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY user_id, CAST(ts AS DATE)
        ), stats AS (
            SELECT
                CAST(COUNT(*) FILTER (WHERE variant = 0) AS BIGINT) AS n_a,
                CAST(COUNT(*) FILTER (WHERE variant = 1) AS BIGINT) AS n_b,
                CAST(SUM(conv) FILTER (WHERE variant = 0) AS BIGINT) AS conv_a,
                CAST(SUM(conv) FILTER (WHERE variant = 1) AS BIGINT) AS conv_b
            FROM per_unit
        )
        SELECT n_a, n_b, conv_a, conv_b,
               ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
               ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
               -- degenerate experiment (0% or 100% overall) has SE 0:
               -- NULL z / false significance on BOTH engines, never
               -- an engine-specific error/NaN divergence
               CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                    THEN NULL
                    ELSE ROUND(
                 (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score,
               CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                    THEN FALSE
                    ELSE ABS((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b))) >= 1.96 END AS significant
        FROM stats
    """,
)
def t27_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ab_test(load_table(spark, "events", sf_dir))


def ab_test(ev: DataFrame) -> DataFrame:
    """t27's one-row readout over ``ev``."""
    per_unit = ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    ).select((F.col("user_id") % 2).alias("variant"), "conv")
    stats = per_unit.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    pooled = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    degenerate = (pooled == 0) | (pooled == 1)  # SE 0 → no inference
    z = F.when(
        ~degenerate,
        (rate_a - rate_b)
        / F.sqrt(pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))),
    )
    return stats.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        F.when(degenerate, F.lit(False))
        .otherwise(F.abs(z) >= 1.96)
        .alias("significant"),
    )


# ---------------------------------------------------------------------------
# t30: sliding-window rate limiting (throttle audit)
# ---------------------------------------------------------------------------

_RATE_CAP = 6  # max events allowed per user per window
_RATE_WINDOW_S = 86_400  # sliding window, seconds (24 h)


@REGISTRY.register(
    name="t30_rate_limit",
    survey_ref="§2.11 extra (per-key throttling)",
    doc=f"sliding-window rate limiter in event time: an event is "
    f"DENIED when its user already has ≥{_RATE_CAP} events in the "
    f"preceding 24 h (inclusive window counts itself — "
    "allowed iff count ≤ cap). The audit form of the reference's "
    "producer-side throttle concern (redpanda best-effort publish): "
    "one user-keyed RANGE-frame window pass, no self-join of events "
    "against events (the correlated-count spelling is quadratic on "
    "hot users); per-user ordering is what the streaming twin's "
    "applyInPandasWithState would see. Output: denied events only, "
    "with the in-window count that tripped them.",
    oracle=f"""
        WITH counted AS (
            SELECT event_id, user_id, ts,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY EPOCH_US(ts)
                                  RANGE BETWEEN {_RATE_WINDOW_S * 1_000_000 - 1}
                                  PRECEDING AND CURRENT ROW) AS n_in_window
            FROM events
        )
        SELECT event_id, user_id,
               CAST(n_in_window AS BIGINT) AS n_in_window
        FROM counted WHERE n_in_window > {_RATE_CAP}
    """,
)
def t30_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    # integer microseconds on BOTH sides (oracle: EPOCH_US) — a
    # seconds-truncated key would shift membership at sub-second gaps
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-(_RATE_WINDOW_S * 1_000_000 - 1), 0)
    )
    counted = ev.select(
        "event_id", "user_id", F.count("*").over(w).alias("n_in_window")
    )
    return counted.filter(F.col("n_in_window") > _RATE_CAP).select(
        "event_id", "user_id", F.col("n_in_window").cast("bigint").alias("n_in_window")
    )


# ---------------------------------------------------------------------------
# t31: seasonal-baseline deviation (dow × hour profile)
# ---------------------------------------------------------------------------

_SEASONAL_RATIO = 1.5


@REGISTRY.register(
    name="t31_seasonality",
    survey_ref="§2.11 analytics (seasonal anomaly)",
    doc="seasonal anomaly detection, the complement of t26's trailing-"
    "window burst alarm: every (date, hour) traffic cell is compared "
    "to its OWN seasonal baseline — the average count of the same "
    "(day-of-week, hour) slot across history — and flagged when the "
    f"ratio reaches {_SEASONAL_RATIO} (t26 would miss a spike that "
    "builds over hours; this misses novel one-off bursts — ops runs "
    "both). Two aggs over the corpus-independent 720-cell count "
    "table; raw events shuffle once into (date, hour) partial "
    "counts and never again.",
    oracle=f"""
        WITH cells AS (
            SELECT CAST(ts AS DATE) AS d,
                   DAYOFWEEK(CAST(ts AS DATE)) AS dow,
                   HOUR(ts) AS h,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2, 3
        ), base AS (
            SELECT dow, h, AVG(n) AS expected FROM cells GROUP BY 1, 2
        )
        SELECT CAST(c.d AS VARCHAR) AS day, CAST(c.h AS INT) AS hr, c.n,
               ROUND(b.expected, 4) AS expected,
               ROUND(c.n / b.expected, 4) AS ratio
        FROM cells c JOIN base b ON c.dow = b.dow AND c.h = b.h
        WHERE c.n / b.expected >= {_SEASONAL_RATIO}
    """,
)
def t31_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    cells = ev.groupBy(
        F.col("ts").cast("date").alias("d"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
        F.hour("ts").alias("h"),
    ).agg(F.count("*").cast("bigint").alias("n"))
    base = cells.groupBy("dow", "h").agg(F.avg("n").alias("expected"))
    ratio = F.col("n") / F.col("expected")
    return (
        cells.join(F.broadcast(base), ["dow", "h"])
        .filter(ratio >= _SEASONAL_RATIO)
        .select(
            F.col("d").cast("string").alias("day"),
            F.col("h").cast("int").alias("hr"),
            "n",
            F.round("expected", 4).alias("expected"),
            F.round(ratio, 4).alias("ratio"),
        )
    )


# ---------------------------------------------------------------------------
# t34: preference-pair mining (RLHF data construction from feedback)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t34_preference_pairs",
    survey_ref="training-data (RLHF preference pairs from feedback logs)",
    doc="preference-pair construction from implicit feedback: per "
    "user, the highest-valued rated item becomes CHOSEN and the "
    "lowest REJECTED (ties broken by item id on both ends — the "
    "determinism every RLHF data pipeline needs for replayable "
    "datasets). Items come from the event props JSON ('k'), ratings "
    "from value; users whose ratings are all equal yield no signal "
    "and are dropped. ONE user-keyed partial-agg shuffle: both "
    "argmaxes are min/max(struct) aggregates, so event volume "
    "combines map-side and never funnels — the classic 100 TB "
    "feedback log reduces at scan speed.",
    oracle="""
        WITH rated AS (
            SELECT user_id,
                   json_extract_string(props, '$.k') AS item,
                   ROUND(value, 6) AS rating
            FROM events
            WHERE value IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
        ), agg AS (
            SELECT user_id,
                   MAX({'rating': rating, 'item': item}) AS ch,
                   MIN({'rating': rating, 'item': item}) AS rj
            FROM rated GROUP BY user_id
        )
        SELECT user_id,
               ch.item AS chosen_item,
               ch.rating AS chosen_rating,
               rj.item AS rejected_item,
               rj.rating AS rejected_rating,
               ROUND(ch.rating - rj.rating, 6) AS margin
        FROM agg
        WHERE ch.rating > rj.rating
    """,
)
def t34_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    rated = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").alias("item"),
        F.round("value", 6).alias("rating"),
    ).filter(F.col("rating").isNotNull() & F.col("item").isNotNull())
    agg = rated.groupBy("user_id").agg(
        F.max(F.struct("rating", "item")).alias("ch"),
        F.min(F.struct("rating", "item")).alias("rj"),
    )
    return agg.filter(F.col("ch.rating") > F.col("rj.rating")).select(
        "user_id",
        F.col("ch.item").alias("chosen_item"),
        F.col("ch.rating").alias("chosen_rating"),
        F.col("rj.item").alias("rejected_item"),
        F.col("rj.rating").alias("rejected_rating"),
        F.round(F.col("ch.rating") - F.col("rj.rating"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# t33: weak-labeler agreement (Cohen's kappa)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t33_rater_agreement",
    survey_ref="training-data (label QA: inter-rater agreement)",
    doc="Cohen's kappa (Cohen 1960) between two deterministic weak labelers over "
    "events — rater A: value ≥ 5 ('high-engagement'), rater B: "
    "event_type in (click, purchase, signup) ('active intent'). "
    "Kappa = (po − pe) / (1 − pe) corrects raw agreement for chance — "
    "the label-quality gate every weak-supervision pipeline runs "
    "before trusting auto-labels for training. ONE 1-row closed-form "
    "aggregate (t27's shape): the event volume partial-aggregates "
    "map-side, the kappa arithmetic runs on four counters.",
    oracle="""
        WITH labeled AS (
            SELECT CASE WHEN value >= 5 THEN 1 ELSE 0 END AS a,
                   CASE WHEN event_type IN ('click', 'purchase', 'signup')
                        THEN 1 ELSE 0 END AS b
            FROM events WHERE value IS NOT NULL
        ), c AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n11,
                   CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n00,
                   CAST(SUM(a) AS DOUBLE) AS na,
                   CAST(SUM(b) AS DOUBLE) AS nb
            FROM labeled
        )
        SELECT CAST(n AS BIGINT) AS n_items,
               ROUND((n11 + n00) / n, 6) AS po,
               ROUND((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n), 6) AS pe,
               ROUND(((n11 + n00) / n
                      - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n)))
                     / (1 - ((na / n) * (nb / n) + (1 - na / n) * (1 - nb / n))),
                     6) AS kappa
        FROM c
    """,
)
def t33_rater_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    a = F.when(F.col("value") >= 5, 1).otherwise(0)
    c = ev.select(a.alias("a"), F.expr(_INTENT).alias("b")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("double")
        .alias("n11"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("double")
        .alias("n00"),
        F.sum("a").cast("double").alias("na"),
        F.sum("b").cast("double").alias("nb"),
    )
    po = (F.col("n11") + F.col("n00")) / F.col("n")
    pa, pb = F.col("na") / F.col("n"), F.col("nb") / F.col("n")
    pe = pa * pb + (1 - pa) * (1 - pb)
    return c.select(
        F.col("n").cast("bigint").alias("n_items"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# t35: next-item training examples (sequence-model dataset construction)
# ---------------------------------------------------------------------------

_NEXTITEM_CTX = 3  # context length (preceding items)


@REGISTRY.register(
    name="t35_next_item_examples",
    survey_ref="training-data (sequence-model examples from event logs)",
    doc="supervised next-item examples from the event log: per user in "
    f"time order, each event becomes (context = the {_NEXTITEM_CTX} "
    "preceding item ids, target = this item) — the dataset every "
    "sequential recommender / session-LM trains on. Rows without a "
    "full context (the first items of each user) are dropped, so "
    "every example has fixed shape (context flattened to a "
    "space-joined string — driver-hashable scalar). ONE user-keyed window pass "
    "(partitionBy user_id — uniform key) with a bounded ROWS frame "
    "builds the context arrays; no self-joins, no explode: at 100 TB "
    "this is a sort within each user's partition and a map.",
    oracle=f"""
        WITH seq AS (
            SELECT user_id,
                   json_extract_string(props, '$.k') AS item,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn,
                   ARRAY_TO_STRING(LIST(json_extract_string(props, '$.k')) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN {_NEXTITEM_CTX} PRECEDING AND 1 PRECEDING
                   ), ' ') AS context
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
        )
        SELECT user_id, CAST(rn AS BIGINT) AS rn, context, item AS target
        FROM seq WHERE rn > {_NEXTITEM_CTX}
    """,
)
def t35_next_item_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    items = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").alias("item"),
    ).filter(F.col("item").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ctx = w.rowsBetween(-_NEXTITEM_CTX, -1)
    return (
        items.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.array_join(F.collect_list("item").over(ctx), " ").alias("context"),
            F.col("item").alias("target"),
        )
        .filter(F.col("rn") > _NEXTITEM_CTX)
    )


# ---------------------------------------------------------------------------
# t38: CUSUM change-point detection over the daily event series
# ---------------------------------------------------------------------------

_CUSUM_K = 0.5  # slack, in std units
_CUSUM_H = 4.0  # alarm threshold, in std units
_CUSUM_SHIFT_DAY = "2024-01-25"  # planted incident start
_CUSUM_SHIFT = 150  # planted extra events/day


@REGISTRY.register(
    name="t38_cusum_changepoint",
    survey_ref="§2.11 analytics extra (drift/change-point); t26/t31's sibling",
    doc="one-sided CUSUM (Page, Biometrika 1954) over the daily event-count series: "
    "s_i = max(0, s_{i-1} + z_i − k) on standardized counts, alarm at "
    f"s ≥ {_CUSUM_H} — the slow-shift detector that catches level "
    "changes t26's trailing-window burst test and t31's seasonal "
    "baseline both miss. The recurrence is a LEFT FOLD over the "
    "(corpus-independent, ~365-row) day series — f32's "
    "aggregate/list_reduce discipline, so the whole detector is "
    "hash-oracled despite being a stateful recursion. A deterministic "
    f"+{_CUSUM_SHIFT}/day incident is planted from {_CUSUM_SHIFT_DAY} "
    "(t20's salting pattern): the alarm must fire inside the planted "
    "window and never before (pinned by test). Event volume reduces "
    "to day partials map-side; everything after is tiny-table work.",
    oracle=f"""
        WITH days AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   COUNT(*)
                   + CASE WHEN CAST(ts AS DATE) >= DATE '{_CUSUM_SHIFT_DAY}'
                          THEN {_CUSUM_SHIFT} ELSE 0 END AS n
            FROM events GROUP BY CAST(ts AS DATE)
        ), stats AS (
            SELECT AVG(n) AS m, STDDEV_SAMP(n) AS sd FROM days
        ), series AS (
            SELECT LIST(ROUND((n - m) / sd, 6) ORDER BY day) AS zs,
                   LIST(day ORDER BY day) AS ds,
                   LIST(n ORDER BY day) AS ns
            FROM days CROSS JOIN stats
        ), folded AS (
            SELECT ds, ns,
                   list_reduce(
                       [[0.0]] || LIST_TRANSFORM(zs, z -> [z]),
                       (acc, x) -> acc ||
                           [GREATEST(0.0, acc[-1] + x[1] - {_CUSUM_K})]
                   ) AS ss
            FROM series
        )
        SELECT ds[i] AS day,
               CAST(ns[i] AS BIGINT) AS n_events,
               ROUND(ss[i + 1], 4) AS cusum,
               ss[i + 1] >= {_CUSUM_H} AS alarm
        FROM folded, UNNEST(GENERATE_SERIES(1, LEN(ds))) u(i)
    """,
)
def t38_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    days = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        (
            F.count("*")
            + F.when(
                F.col("ts").cast("date") >= F.lit(_CUSUM_SHIFT_DAY).cast("date"),
                _CUSUM_SHIFT,
            ).otherwise(0).cast("bigint")
        ).alias("n")
    )
    stats = days.agg(
        F.avg("n").alias("m"), F.stddev_samp("n").alias("sd")
    )
    series = days.join(F.broadcast(stats)).groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("d").cast("string").alias("day"),
                    F.col("n").alias("n"),
                    F.round((F.col("n") - F.col("m")) / F.col("sd"), 6).alias("z"),
                )
            )
        ).alias("rows")
    )
    folded = series.select(
        "rows",
        F.aggregate(
            F.col("rows"),
            F.array(F.lit(0.0)),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.greatest(
                        F.lit(0.0),
                        F.element_at(acc, -1) + x["z"] - F.lit(_CUSUM_K),
                    )
                ),
            ),
        ).alias("ss"),
    )
    return folded.select(
        F.posexplode("rows").alias("i0", "r"), F.col("ss")
    ).select(
        F.col("r.day").alias("day"),
        F.col("r.n").cast("bigint").alias("n_events"),
        F.round(F.element_at(F.col("ss"), F.col("i0") + 2), 4).alias("cusum"),
        (F.element_at(F.col("ss"), F.col("i0") + 2) >= _CUSUM_H).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# t51: EWMA control band (slow-decay smoothing + anomaly flags)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.2  # smoothing weight on the new observation
_EWMA_LAMBDA = 3.0  # band half-width, in global std units
_EWMA_SPIKE_DAY = "2024-01-21"  # planted one-day incident
_EWMA_SPIKE = 300  # planted extra events on that day


@REGISTRY.register(
    name="t51_ewma_band",
    survey_ref="§2.11 analytics extra (EWMA control chart); t26/t38's sibling",
    doc="EWMA control chart (Roberts, Technometrics 1959) over the "
    f"daily event-count series: ewma_i = {_EWMA_ALPHA}·x_i + "
    f"{1 - _EWMA_ALPHA}·ewma_(i-1) seeded on day 1, anomaly when "
    f"|x_i − ewma_(i-1)| > {_EWMA_LAMBDA}·sd — the smoothing monitor "
    "between t26's sharp trailing-window burst and t38's cumulative "
    "slow-shift CUSUM. The recurrence is the same hash-oracled LEFT "
    "FOLD discipline as t38 (per-step rounding at 6dp pins the "
    "cross-engine floats), over the corpus-independent ~365-row day "
    f"series. A +{_EWMA_SPIKE} one-day incident is planted on "
    f"{_EWMA_SPIKE_DAY}; the band must flag that day and only that "
    "day (pinned by test). Event volume reduces to day partials "
    "map-side; everything after is tiny-table work.",
    oracle=f"""
        WITH days AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   COUNT(*) + CASE WHEN CAST(ts AS DATE) = DATE '{_EWMA_SPIKE_DAY}'
                                   THEN {_EWMA_SPIKE} ELSE 0 END AS n
            FROM events GROUP BY CAST(ts AS DATE)
        ), stats AS (
            SELECT STDDEV_SAMP(n) AS sd FROM days
        ), series AS (
            SELECT LIST(day ORDER BY day) AS ds,
                   LIST(CAST(n AS DOUBLE) ORDER BY day) AS xs,
                   ANY_VALUE(sd) AS sd
            FROM days CROSS JOIN stats
        ), folded AS (
            SELECT ds, xs, sd,
                   list_reduce(
                       [[xs[1]]] || LIST_TRANSFORM(xs[2:], x -> [x]),
                       (acc, x) -> acc ||
                           [ROUND({_EWMA_ALPHA} * x[1]
                                  + {1 - _EWMA_ALPHA} * acc[-1], 6)]
                   ) AS es
            FROM series
        )
        SELECT ds[i] AS day,
               CAST(xs[i] AS BIGINT) AS n_events,
               ROUND(es[i], 4) AS ewma,
               CASE WHEN i = 1 THEN 0.0
                    ELSE ROUND(xs[i] - es[i - 1], 4) END AS residual,
               CASE WHEN i = 1 THEN FALSE
                    ELSE ABS(xs[i] - es[i - 1]) > {_EWMA_LAMBDA} * sd END
                   AS anomaly
        FROM folded, UNNEST(GENERATE_SERIES(1, LEN(ds))) u(i)
    """,
)
def t51_ewma_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    days = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        (
            F.count("*")
            + F.when(
                F.col("ts").cast("date") == F.lit(_EWMA_SPIKE_DAY).cast("date"),
                _EWMA_SPIKE,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n")
    )
    stats = days.agg(F.stddev_samp("n").alias("sd"))
    series = (
        days.join(F.broadcast(stats))
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("d").cast("string").alias("day"),
                        F.col("n").alias("n"),
                    )
                )
            ).alias("rows"),
            F.first("sd").alias("sd"),
        )
    )
    xs = F.transform(F.col("rows"), lambda r: r["n"].cast("double"))
    folded = series.select(
        "rows",
        "sd",
        F.aggregate(
            F.slice(xs, 2, F.greatest(F.size(xs) - 1, F.lit(0))),
            F.array(F.element_at(xs, 1)),
            lambda acc, x: F.concat(
                acc,
                F.array(
                    F.round(
                        F.lit(_EWMA_ALPHA) * x
                        + F.lit(1 - _EWMA_ALPHA) * F.element_at(acc, -1),
                        6,
                    )
                ),
            ),
        ).alias("es"),
    )
    i1 = F.col("i0") + 1  # 1-based day index
    prev = F.element_at(F.col("es"), F.col("i0"))  # es[i-1]
    x_i = F.col("r.n").cast("double")
    return folded.select(
        F.posexplode("rows").alias("i0", "r"), "es", "sd"
    ).select(
        F.col("r.day").alias("day"),
        F.col("r.n").cast("bigint").alias("n_events"),
        F.round(F.element_at(F.col("es"), i1), 4).alias("ewma"),
        F.when(F.col("i0") == 0, F.lit(0.0))
        .otherwise(F.round(x_i - prev, 4))
        .alias("residual"),
        F.when(F.col("i0") == 0, F.lit(False))
        .otherwise(F.abs(x_i - prev) > F.lit(_EWMA_LAMBDA) * F.col("sd"))
        .alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# u28: deterministic negative sampling (contrastive dataset construction)
# ---------------------------------------------------------------------------

_NEG_PER_PAIR = 3


@REGISTRY.register(
    name="u28_negative_samples",
    survey_ref="training-data (contrastive negatives; t34's downstream)",
    doc=f"{_NEG_PER_PAIR} random-but-deterministic negatives per t34 "
    "preference pair, drawn md5-uniformly from the item vocabulary "
    "EXCLUDING that user's chosen/rejected items — the exclusion is "
    "exact order-statistics arithmetic (index into the vocab minus "
    "the two excluded ranks, shifting past each excluded rank in "
    "ascending order), not rejection sampling, so every pair gets "
    "exactly 3 negatives on any engine, any retry, any partitioning. "
    "The vocab table is tiny and broadcasts; the per-user fan-out is "
    "a 3-row explode — the whole dataset-construction step is one "
    "map pass over t34's output. Embedding-space hard negatives are "
    "v19; this is the uniform-negative baseline every contrastive "
    "recipe starts from.",
    oracle=f"""
        WITH rated AS (
            SELECT user_id,
                   json_extract_string(props, '$.k') AS item,
                   ROUND(value, 6) AS rating
            FROM events
            WHERE value IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
        ), agg AS (
            SELECT user_id,
                   MAX({{'rating': rating, 'item': item}}) AS ch,
                   MIN({{'rating': rating, 'item': item}}) AS rj
            FROM rated GROUP BY user_id
        ), pairs AS (
            SELECT user_id, ch.item AS chosen_item, rj.item AS rejected_item
            FROM agg WHERE ch.rating > rj.rating
        ), vocab AS (
            SELECT item, ROW_NUMBER() OVER (ORDER BY item) - 1 AS r,
                   COUNT(*) OVER () AS nv
            FROM (SELECT DISTINCT item FROM rated)
        ), ranked_pairs AS (
            SELECT p.user_id, p.chosen_item, p.rejected_item,
                   LEAST(vc.r, vr.r) AS e1, GREATEST(vc.r, vr.r) AS e2,
                   vc.nv AS nv
            FROM pairs p
            JOIN vocab vc ON vc.item = p.chosen_item
            JOIN vocab vr ON vr.item = p.rejected_item
        ), drawn AS (
            -- a user whose argmax and argmin ratings land on the SAME
            -- item excludes only ONE rank: draw modulo nv-1, not nv-2
            SELECT user_id, chosen_item, rejected_item, j,
                   (('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                    % (nv - CASE WHEN e1 = e2 THEN 1 ELSE 2 END)) AS idx0, e1, e2
            FROM ranked_pairs, (SELECT UNNEST(GENERATE_SERIES(1, {_NEG_PER_PAIR})) AS j) u
        ), shifted AS (
            SELECT user_id, chosen_item, rejected_item, j,
                   CASE WHEN e1 <> e2
                             AND (CASE WHEN idx0 >= e1 THEN idx0 + 1 ELSE idx0 END) >= e2
                        THEN (CASE WHEN idx0 >= e1 THEN idx0 + 1 ELSE idx0 END) + 1
                        ELSE (CASE WHEN idx0 >= e1 THEN idx0 + 1 ELSE idx0 END) END AS idx
            FROM drawn
        )
        SELECT s.user_id, s.chosen_item, s.rejected_item,
               CAST(s.j AS INT) AS neg_rank, v.item AS negative_item
        FROM shifted s JOIN vocab v ON v.r = s.idx
    """,
)
def u28_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    rated = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").alias("item"),
        F.round("value", 6).alias("rating"),
    ).filter(F.col("rating").isNotNull() & F.col("item").isNotNull())
    agg = rated.groupBy("user_id").agg(
        F.max(F.struct("rating", "item")).alias("ch"),
        F.min(F.struct("rating", "item")).alias("rj"),
    )
    pairs = agg.filter(F.col("ch.rating") > F.col("rj.rating")).select(
        "user_id",
        F.col("ch.item").alias("chosen_item"),
        F.col("rj.item").alias("rejected_item"),
    )
    vocab = (
        rated.select("item")
        .distinct()
        .withColumn("r", F.row_number().over(W.orderBy("item")) - 1)
        .withColumn("nv", F.count("*").over(W.partitionBy()))
    )
    vc = vocab.select(F.col("item").alias("chosen_item"), F.col("r").alias("rc"), "nv")
    vr = vocab.select(F.col("item").alias("rejected_item"), F.col("r").alias("rr"))
    ranked = (
        pairs.join(F.broadcast(vc), "chosen_item")
        .join(F.broadcast(vr), "rejected_item")
        .select(
            "user_id", "chosen_item", "rejected_item", "nv",
            F.least("rc", "rr").alias("e1"), F.greatest("rc", "rr").alias("e2"),
        )
    )
    drawn = ranked.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(_NEG_PER_PAIR))).alias("j")
    ).withColumn(
        "idx0",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit("#"), F.col("j").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        # same-item edge: argmax and argmin on one item exclude a
        # single rank, so the draw space is nv-1, not nv-2
        % (F.col("nv") - F.when(F.col("e1") == F.col("e2"), 1).otherwise(2)),
    )
    step1 = F.when(F.col("idx0") >= F.col("e1"), F.col("idx0") + 1).otherwise(F.col("idx0"))
    idx = F.when(
        (F.col("e1") != F.col("e2")) & (step1 >= F.col("e2")), step1 + 1
    ).otherwise(step1)
    shifted = drawn.withColumn("idx", idx)
    vneg = vocab.select(F.col("r").alias("idx"), F.col("item").alias("negative_item"))
    return shifted.join(F.broadcast(vneg), "idx").select(
        "user_id",
        "chosen_item",
        "rejected_item",
        F.col("j").cast("int").alias("neg_rank"),
        "negative_item",
    )


# ---------------------------------------------------------------------------
# t41: retention-decay fit (log-linear least squares over the cohort matrix)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t41_retention_decay_fit",
    survey_ref="§2.11 analytics extra (t14b's model layer)",
    doc="exponential-decay fit of the retention curve: t14b's cohort "
    "matrix collapses to overall retention-rate-by-day-offset, and "
    "ln(rate) regresses on offset with CLOSED-FORM least squares "
    "(slope/intercept from the five sum terms — one aggregate, no "
    "solver). Output: per-offset observed vs fitted rate plus the "
    "daily decay multiplier exp(slope) — the single number a "
    "growth team quotes. Everything is partial-aggregable sums over "
    "the tiny offset table; the heavy lift (per-user first-day) is "
    "the SAME user-keyed shuffle t14b already prices.",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
        ), active AS (
            SELECT DISTINCT e.user_id,
                   DATEDIFF('day', f.d0, CAST(e.ts AS DATE)) AS day_off
            FROM events e JOIN firsts f ON e.user_id = f.user_id
        ), cohort_n AS (
            SELECT COUNT(*) AS n0 FROM firsts
        ), rates AS (
            SELECT day_off,
                   ROUND(CAST(COUNT(*) AS DOUBLE) / (SELECT n0 FROM cohort_n), 6) AS rate
            FROM active WHERE day_off >= 1 GROUP BY day_off
        ), fit AS (
            SELECT COUNT(*) AS n, SUM(day_off) AS sx, SUM(LN(rate)) AS sy,
                   SUM(day_off * day_off) AS sxx, SUM(day_off * LN(rate)) AS sxy
            FROM rates WHERE rate > 0
        ), coefs AS (
            SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
                   (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                       AS intercept
            FROM fit
        )
        SELECT r.day_off AS day_offset, r.rate AS observed_rate,
               ROUND(EXP(c.intercept + c.slope * r.day_off), 6) AS fitted_rate,
               ROUND(EXP(c.slope), 6) AS daily_decay
        FROM rates r CROSS JOIN coefs c
    """,
)
def t41_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    active = (
        ev.join(firsts, "user_id")
        .select("user_id", F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("day_off"))
        .distinct()
    )
    n0 = firsts.count()
    rates = (
        active.filter(F.col("day_off") >= 1)
        .groupBy("day_off")
        .agg(F.round(F.count("*") / F.lit(float(n0)), 6).alias("rate"))
    )
    fit = rates.filter(F.col("rate") > 0).agg(
        F.count("*").alias("n"),
        F.sum("day_off").alias("sx"),
        F.sum(F.log("rate")).alias("sy"),
        F.sum(F.col("day_off") * F.col("day_off")).alias("sxx"),
        F.sum(F.col("day_off") * F.log("rate")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    coefs = fit.select(
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )
    return rates.crossJoin(F.broadcast(coefs)).select(
        F.col("day_off").alias("day_offset"),
        F.col("rate").alias("observed_rate"),
        F.round(F.exp(F.col("intercept") + F.col("slope") * F.col("day_off")), 6).alias(
            "fitted_rate"
        ),
        F.round(F.exp("slope"), 6).alias("daily_decay"),
    )


# ---------------------------------------------------------------------------
# t42: stream-static join enrichment (native streaming join + agg)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t42_stream_static_enrich",
    survey_ref="§2.11 (stream-static join; completes the streaming join modes)",
    doc="NATIVE stream-static join: the replayed event stream joins "
    "the static customer dimension (user→market segment) inside the "
    "streaming query itself — no foreachBatch — and a streaming "
    "aggregation in complete mode maintains per-segment event counts "
    "and value sums into a memory sink. This is the third streaming "
    "join mode next to t11's stream-stream interval join and the "
    "foreachBatch enrichments: the static side is re-broadcast per "
    "micro-batch (planner guarantee — a dim table UPDATE is picked "
    "up by later batches), and the final table must equal the batch "
    "join·groupBy (hash-checked against the SQL spelling).",
    oracle="""
        SELECT c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY c.c_mktsegment
    """,
)
def t42_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ai_iceberg_demo_spark.streaming.incremental import stage_batch_files

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    state = tempfile.mkdtemp(prefix="stream_static_")
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    ingest = stage_batch_files(state, batches)
    cust = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")

    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{ingest}/*.parquet")
    )
    enriched = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
    )
    qname = "t42_segments"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.table(qname)


# ---------------------------------------------------------------------------
# t43: DAU/WAU stickiness
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t43_dau_wau_stickiness",
    survey_ref="§2.11 analytics extra (engagement ratio); w7's sibling",
    doc="DAU/WAU stickiness per day: daily active users over trailing-"
    "7-day distinct actives, the engagement ratio every growth "
    "dashboard tracks. The corpus reduces FIRST to the compact "
    "(day, user) distinct table (one partial-agg shuffle); the "
    "trailing-7-day distinct then joins that tiny table to the "
    "day spine within the window — exact here, and at 100 TB the "
    "trailing term swaps for merged daily HLL sketches (a8b's "
    "family) with the identical report schema.",
    oracle="""
        WITH du AS (
            SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
        ), days AS (
            SELECT DISTINCT d FROM du
        ), dau AS (
            SELECT d, COUNT(*) AS dau FROM du GROUP BY d
        ), wau AS (
            SELECT days.d, COUNT(DISTINCT du.user_id) AS wau
            FROM days JOIN du
              ON du.d <= days.d AND du.d > days.d - INTERVAL 7 DAY
            GROUP BY days.d
        )
        SELECT CAST(dau.d AS VARCHAR) AS day,
               CAST(dau.dau AS BIGINT) AS dau,
               CAST(wau.wau AS BIGINT) AS wau,
               ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        FROM dau JOIN wau ON wau.d = dau.d
    """,
)
def t43_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    du = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count("*").alias("dau"))
    wau = (
        days.alias("s")
        .join(
            du.alias("u"),
            (F.col("u.d") <= F.col("s.d"))
            & (F.col("u.d") > F.date_sub(F.col("s.d"), 7)),
        )
        .groupBy(F.col("s.d").alias("d"))
        .agg(F.countDistinct("u.user_id").alias("wau"))
    )
    return dau.join(wau, "d").select(
        F.col("d").cast("string").alias("day"),
        F.col("dau").cast("bigint").alias("dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# t45: cohort LTV curves (cumulative value by cohort-day offset)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t45_cohort_ltv",
    survey_ref="§2.11 analytics extra (t14b + value; the LTV read)",
    doc="cumulative lifetime value per acquisition cohort: users "
    "cohort on their first-activity day (t14b's rule), purchase "
    "value rolls up to (cohort, day-offset) — the corpus' one "
    "user-keyed pass — and a running-sum window over the tiny "
    "(cohort × offset) table yields the LTV curve plus its per-user "
    "normalization. The payback-period read every acquisition budget "
    "hangs on; the window orders corpus-independent rows only.",
    oracle="""
        WITH firsts AS (
            SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
        ), cohort_sizes AS (
            SELECT d0, COUNT(*) AS n_users FROM firsts GROUP BY d0
        ), spend AS (
            SELECT f.d0, DATEDIFF('day', f.d0, CAST(e.ts AS DATE)) AS day_off,
                   SUM(CAST(e.value AS DECIMAL(14,2))) AS v
            FROM events e JOIN firsts f ON f.user_id = e.user_id
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT CAST(s.d0 AS VARCHAR) AS cohort_day,
               CAST(s.day_off AS INT) AS day_offset,
               CAST(SUM(s.v) OVER (PARTITION BY s.d0 ORDER BY s.day_off) AS DOUBLE)
                   AS cum_value,
               ROUND(CAST(SUM(s.v) OVER (PARTITION BY s.d0 ORDER BY s.day_off)
                          AS DOUBLE) / c.n_users, 6) AS ltv_per_user
        FROM spend s JOIN cohort_sizes c ON c.d0 = s.d0
    """,
)
def t45_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("d0"))
    cohort_sizes = firsts.groupBy("d0").agg(F.count("*").alias("n_users"))
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "d0", F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("day_off")
        )
        .agg(F.sum(F.col("value").cast("decimal(14,2)")).alias("v"))
    )
    w = W.partitionBy("d0").orderBy("day_off")
    cum = F.sum("v").over(w).cast("double")
    return spend.join(F.broadcast(cohort_sizes), "d0").select(
        F.col("d0").cast("string").alias("cohort_day"),
        F.col("day_off").cast("int").alias("day_offset"),
        cum.alias("cum_value"),
        F.round(cum / F.col("n_users"), 6).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# t47: classifier evaluation report (confusion matrix + P/R/F1)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t47_classifier_eval",
    survey_ref="training-data (model eval: confusion matrix); t33's metric layer",
    doc="full binary-classifier evaluation of the weak labeler pair "
    "t33 scores for agreement: rater A (value ≥ 5) PREDICTING rater "
    "B's 'active intent' label — confusion counts (tp/fp/fn/tn), "
    "precision, recall, F1, accuracy in one closed-form row. THE "
    "report every auto-labeling pipeline prints before its labels "
    "train anything; one map-side aggregate (t27's shape), event "
    "volume reduces to four counters.",
    oracle="""
        WITH labeled AS (
            SELECT CASE WHEN value >= 5 THEN 1 ELSE 0 END AS pred,
                   CASE WHEN event_type IN ('click', 'purchase', 'signup')
                        THEN 1 ELSE 0 END AS actual
            FROM events WHERE value IS NOT NULL
        ), c AS (
            SELECT CAST(SUM(CASE WHEN pred = 1 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN pred = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN pred = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                   CAST(SUM(CASE WHEN pred = 0 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM labeled
        )
        SELECT tp, fp, fn, tn,
               ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
               ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
               ROUND(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1,
               ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
        FROM c
    """,
)
def t47_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classifier_eval(labeled_scores(load_table(spark, "events", sf_dir)))


def labeled_scores(ev: DataFrame) -> DataFrame:
    """(score, pos): the value score and its intent label over the
    events that carry a value — the one labeled frame t47, t64, t65
    and pipeline_model_eval evaluate."""
    return ev.where("value IS NOT NULL").selectExpr("value AS score", f"{_INTENT} AS pos")


def classifier_eval(labeled: DataFrame) -> DataFrame:
    """t47's row over labeled_scores' (score, pos): rater A predicts
    positive at score ≥ 5."""
    c = labeled.selectExpr(
        "CAST(sum(CASE WHEN score >= 5 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp",
        "CAST(sum(CASE WHEN score >= 5 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp",
        "CAST(sum(CASE WHEN score < 5 AND pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn",
        "CAST(sum(CASE WHEN score < 5 AND pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn",
    )
    tp, fp, fn, tn = (F.col(x).cast("double") for x in ("tp", "fp", "fn", "tn"))
    return c.select(
        "tp", "fp", "fn", "tn",
        F.round(tp / (tp + fp), 6).alias("precision"),
        F.round(tp / (tp + fn), 6).alias("recall"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1"),
        F.round((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# t53: UCB1 bandit readout (experimentation beyond fixed A/B)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t53_ucb_bandit",
    survey_ref="§2.11 analytics extra (bandit readout); t27's adaptive sibling",
    doc="UCB1 bandit readout (Auer et al., Mach. Learn. 2002) treating "
    "event types as arms and `value` as reward: per arm, pulls, mean "
    "reward, and the UCB1 index mean + sqrt(2 ln N / n) — the table "
    "an adaptive allocator reads to pick the next arm, next to t27's "
    "fixed-split z-test. Closed-form over per-arm partials (t27's "
    "shape): reward volume partial-aggregates map-side into one row "
    "per arm, N re-aggregates the SAME partials broadcast as 1 row — "
    "the event stream is never scanned twice. Mean goes through "
    "DECIMAL so per-arm sums are order-independent; ln/sqrt are IEEE- "
    "identical cross-engine; ROUND 6 pins the read-out.",
    oracle="""
        WITH arms AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   SUM(CAST(value AS DECIMAL(12,2))) AS tot
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ), total AS (SELECT SUM(n) AS big_n FROM arms)
        SELECT event_type,
               CAST(n AS BIGINT) AS pulls,
               ROUND(CAST(tot AS DOUBLE) / n, 6) AS mean_reward,
               ROUND(CAST(tot AS DOUBLE) / n
                     + SQRT(2 * LN(CAST(big_n AS DOUBLE)) / n), 6) AS ucb1
        FROM arms CROSS JOIN total
        ORDER BY event_type
    """,
)
def t53_ucb_bandit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    arms = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("tot"),
    )
    total = arms.agg(F.sum("n").alias("big_n"))
    mean = F.col("tot").cast("double") / F.col("n")
    return (
        arms.crossJoin(F.broadcast(total))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("pulls"),
            F.round(mean, 6).alias("mean_reward"),
            F.round(
                mean
                + F.sqrt(2 * F.log(F.col("big_n").cast("double")) / F.col("n")),
                6,
            ).alias("ucb1"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# t54: first/last-touch attribution (marketing analytics)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86400 * 1_000_000  # 7-day lookback, microseconds


@REGISTRY.register(
    name="t54_touch_attribution",
    survey_ref="§2.11 analytics extra (attribution); t14/t29's sibling",
    doc="first-touch and last-touch attribution: every purchase is "
    "credited to the user's earliest and latest view/click inside a "
    "7-day lookback — the marketing-attribution read t14's funnel and "
    "t29's latency don't answer (WHICH exposure gets the credit). "
    "ONE user-keyed window pass: the lookback is a RANGE frame on "
    "integer event-time microseconds ending 1µs before the purchase "
    "(w10's exact-boundary discipline), and first/last non-null "
    "picks are well-defined because (user, ts) is unique at every "
    "SF (verified). The 3-scan spelling (purchases ⋈ touches twice "
    "with correlated min/max) shuffles the stream three times; this "
    "shuffles once. Unattributed purchases surface with NULL touches "
    "— the rows a spend report must not silently drop.",
    oracle=f"""
        SELECT event_id, user_id,
               first_eid, first_type, last_eid, last_type
        FROM (
            SELECT event_id, user_id, event_type,
                   FIRST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                    THEN event_id END IGNORE NULLS) OVER w AS first_eid,
                   FIRST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                    THEN event_type END IGNORE NULLS) OVER w AS first_type,
                   LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                   THEN event_id END IGNORE NULLS) OVER w AS last_eid,
                   LAST_VALUE(CASE WHEN event_type IN ('view', 'click')
                                   THEN event_type END IGNORE NULLS) OVER w AS last_type
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING
                               AND 1 PRECEDING)
        )
        WHERE event_type = 'purchase'
        ORDER BY event_id
    """,
)
def t54_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_ATTR_WINDOW_US, -1)
    )
    is_touch = F.col("event_type").isin("view", "click")
    t_eid = F.when(is_touch, F.col("event_id"))
    t_type = F.when(is_touch, F.col("event_type"))
    return (
        ev.select(
            "event_id",
            "user_id",
            "event_type",
            F.first(t_eid, ignorenulls=True).over(w).alias("first_eid"),
            F.first(t_type, ignorenulls=True).over(w).alias("first_type"),
            F.last(t_eid, ignorenulls=True).over(w).alias("last_eid"),
            F.last(t_type, ignorenulls=True).over(w).alias("last_type"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "first_eid", "first_type", "last_eid", "last_type"
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# t55: multiwindow SLO burn-rate alert (SRE error budget)
# ---------------------------------------------------------------------------

_SLO_ERROR_BUDGET = 0.21  # error-rate objective (fixture baseline ~0.20)
_SLO_LONG_DAYS = 3  # long window (trailing days, inclusive)


@REGISTRY.register(
    name="t55_slo_burn_rate",
    survey_ref="§2.11 analytics extra (SRE error budget); s15's error sibling",
    doc="multiwindow error-budget burn-rate alert (the SRE-workbook "
    "recipe): per day, the 1-day and trailing-3-day error rates over "
    f"a {_SLO_ERROR_BUDGET} SLO → burn rates, alerting only when BOTH "
    "windows burn >1× — the long window keeps one bad hour from "
    "paging, the short window ends the page as soon as the burn "
    "stops. s15 watches freshness; this watches correctness of the "
    "feed itself. Event volume reduces to per-day (errors, total) "
    "partials map-side; both windows and burn arithmetic run over "
    "the ~365-row day table (t13's tiny-table discipline). Rates "
    "ROUND 6 before comparison so the alert booleans are "
    "engine-identical.",
    oracle=f"""
        WITH days AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs,
                   COUNT(*) AS total
            FROM events GROUP BY CAST(ts AS DATE)
        ), rated AS (
            SELECT day, CAST(errs AS BIGINT) AS errs, CAST(total AS BIGINT) AS total,
                   ROUND(errs / CAST(total AS DOUBLE), 6) AS short_rate,
                   ROUND(SUM(errs) OVER w / CAST(SUM(total) OVER w AS DOUBLE), 6)
                       AS long_rate
            FROM days
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {_SLO_LONG_DAYS - 1} PRECEDING
                               AND CURRENT ROW)
        )
        SELECT day, errs, total,
               ROUND(short_rate / {_SLO_ERROR_BUDGET}, 6) AS short_burn,
               ROUND(long_rate / {_SLO_ERROR_BUDGET}, 6) AS long_burn,
               short_rate > {_SLO_ERROR_BUDGET}
                   AND long_rate > {_SLO_ERROR_BUDGET} AS alert
        FROM rated ORDER BY day
    """,
)
def t55_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    days = ev.groupBy(
        F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("errs"),
        F.count("*").cast("bigint").alias("total"),
    )
    w = W.orderBy("day").rowsBetween(-(_SLO_LONG_DAYS - 1), W.currentRow)
    short_rate = F.round(F.col("errs") / F.col("total").cast("double"), 6)
    long_rate = F.round(
        F.sum("errs").over(w) / F.sum("total").over(w).cast("double"), 6
    )
    rated = days.select(
        "day",
        "errs",
        "total",
        short_rate.alias("short_rate"),
        long_rate.alias("long_rate"),
    )
    return rated.select(
        "day",
        "errs",
        "total",
        F.round(F.col("short_rate") / _SLO_ERROR_BUDGET, 6).alias("short_burn"),
        F.round(F.col("long_rate") / _SLO_ERROR_BUDGET, 6).alias("long_burn"),
        (
            (F.col("short_rate") > _SLO_ERROR_BUDGET)
            & (F.col("long_rate") > _SLO_ERROR_BUDGET)
        ).alias("alert"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# t59: robust outlier quarantine (median absolute deviation)
# ---------------------------------------------------------------------------

_T59_CUTOFF = 3.5  # Iglewicz-Hoaglin modified-z threshold


@REGISTRY.register(
    name="t59_mad_outliers",
    survey_ref="§2.11 analytics extra (robust quality gate; t28's "
    "quarantine discipline with breakdown-resistant statistics)",
    doc="MAD-based outlier quarantine (Iglewicz & Hoaglin 1993): per "
    "event_type, the modified z-score 0.6745·(v−median)/MAD flags "
    "|z| > 3.5 — unlike mean/stddev gates (t28), the median and MAD "
    "have a 50% breakdown point, so the outliers themselves cannot "
    "drag the fence they are judged against (the failure mode that "
    "lets a burst of corrupt values whitelist itself). Two exact "
    "holistic passes (median, then median of |v−med|) on the "
    "same uniform event_type key — a11's percentile surface; the "
    "approx_percentile twin is the 100 TB path when exactness can "
    "be traded. Output = the quarantine rows a triage queue reads.",
    oracle=f"""
        WITH vals AS (
            SELECT event_id, event_type, value
            FROM events WHERE value IS NOT NULL
        ), med AS (
            SELECT event_type, MEDIAN(value) AS med
            FROM vals GROUP BY event_type
        ), mad AS (
            SELECT v.event_type, MEDIAN(ABS(v.value - m.med)) AS mad
            FROM vals v JOIN med m USING (event_type)
            GROUP BY v.event_type
        )
        SELECT v.event_id, v.event_type, ROUND(v.value, 6) AS value,
               ROUND(0.6745 * (v.value - m.med) / d.mad, 4) AS modified_z
        FROM vals v
        JOIN med m USING (event_type)
        JOIN mad d USING (event_type)
        WHERE ABS(0.6745 * (v.value - m.med) / d.mad) > {_T59_CUTOFF}
        ORDER BY v.event_id
    """,
)
def t59_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    vals = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    med = vals.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        vals.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    mz = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        vals.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(mz) > _T59_CUTOFF)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(mz, 4).alias("modified_z"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# t62: watermark-delay tuning curve (choose the delay BEFORE committing it)
# ---------------------------------------------------------------------------

_T62_DELAYS_S = (60, 300, 600, 1800)


@REGISTRY.register(
    name="t62_watermark_tuning",
    survey_ref="§2.11 watermarks (t13 audits ONE delay; this prices the "
    "candidate delays so you can pick it)",
    doc="watermark-delay tuning curve: for each candidate delay "
    f"{_T62_DELAYS_S}s, the fraction of events a "
    "`withWatermark(ts, D)` stream would ADMIT (lateness vs the "
    "running event-time max over t13's deterministic arrival replay, "
    "shared helper), per event_type, alongside the exact p99 lateness "
    "— the number a pipeline owner reads off to set the delay that "
    "keeps 99% of data at minimum state cost. The lateness table is "
    "computed ONCE (t13's two-phase shard shape, no total-order "
    "funnel) and the 4-delay fan-out is a map-side explode; both aggs "
    "are (type, delay)-keyed partials. The 30-min jitter bound means "
    "1800s admits everything — pinned in-query as the curve's "
    "endpoint sanity.",
    oracle=f"""
        WITH arr AS (
            SELECT event_type, ts, event_id,
                   EPOCH_US(ts) + (('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                                   % {_JITTER_S}) * 1000000 AS arrival_us
            FROM events
        ), ordered AS (
            SELECT event_type, ts,
                   MAX(ts) OVER (ORDER BY arrival_us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_prev
            FROM arr
        ), lat AS (
            SELECT event_type,
                   CASE WHEN run_prev IS NOT NULL AND ts < run_prev
                        THEN EPOCH_US(run_prev) - EPOCH_US(ts)
                        ELSE 0 END AS late_us
            FROM ordered
        ), p99 AS (
            SELECT event_type,
                   ROUND(QUANTILE_CONT(late_us, 0.99) / 1000000.0, 2) AS p99_late_s
            FROM lat GROUP BY event_type
        ), cov AS (
            SELECT l.event_type, d.delay_s,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   ROUND(SUM(CASE WHEN l.late_us <= d.delay_s * 1000000
                                  THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS pct_admitted
            FROM lat l
            CROSS JOIN (SELECT UNNEST({list(_T62_DELAYS_S)}) AS delay_s) d
            GROUP BY l.event_type, d.delay_s
        )
        SELECT c.event_type, CAST(c.delay_s AS INT) AS delay_s,
               c.n_events, c.pct_admitted, p.p99_late_s,
               c.delay_s < 1800 OR c.pct_admitted = 1.0 AS endpoint_ok
        FROM cov c JOIN p99 p ON c.event_type = p.event_type
        ORDER BY c.event_type, c.delay_s
    """,
)
def t62_watermark_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    lat = _with_running_prev(spark, sf_dir).select(
        "event_type",
        F.when(
            F.col("run_prev").isNotNull() & (F.col("ts") < F.col("run_prev")),
            F.unix_micros(F.col("run_prev")) - F.unix_micros(F.col("ts")),
        )
        .otherwise(F.lit(0))
        .alias("late_us"),
    ).transform(persist_once)
    p99 = lat.groupBy("event_type").agg(
        F.round(F.percentile("late_us", F.lit(0.99)) / 1_000_000.0, 2).alias(
            "p99_late_s"
        )
    )
    fan = lat.select(
        "event_type",
        "late_us",
        F.explode(F.array(*[F.lit(d) for d in _T62_DELAYS_S])).alias("delay_s"),
    )
    cov = fan.groupBy("event_type", "delay_s").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(
            F.sum(
                F.when(F.col("late_us") <= F.col("delay_s") * 1_000_000, 1.0).otherwise(
                    0.0
                )
            )
            / F.count("*"),
            6,
        ).alias("pct_admitted"),
    )
    return (
        cov.join(F.broadcast(p99), "event_type")
        .select(
            "event_type",
            F.col("delay_s").cast("int").alias("delay_s"),
            "n_events",
            "pct_admitted",
            "p99_late_s",
            ((F.col("delay_s") < 1800) | (F.col("pct_admitted") == 1.0)).alias(
                "endpoint_ok"
            ),
        )
        .orderBy("event_type", "delay_s")
    )


# ---------------------------------------------------------------------------
# t63: Kaplan-Meier survival curve (time to first error, right-censored)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t63_kaplan_meier",
    survey_ref="§2.11 analytics extra (t41 fits a parametric decay; this "
    "is the non-parametric estimator that validates it)",
    doc="Kaplan-Meier survival estimate of time-to-first-`error` per "
    "user (days from first activity): users who never error are "
    "right-CENSORED at the corpus end. S(t) = prod over event times "
    "t_i<=t of (1 - d_i/n_i), computed as exp(sum(ln)) so the running "
    "product is a window aggregate; a d_i = n_i terminal row is "
    "handled with an explicit zero flag because Spark's LOG returns "
    "NULL at 0 while DuckDB returns -inf. The heavy lift is ONE "
    "user-keyed shuffle (per-user first-event / first-error days); "
    "the survival table itself is keyed by duration-in-days — "
    "calendar-bounded, so the ordered windows run over a tiny table "
    "(the day-table class in SCALE.md).",
    oracle="""
        WITH span AS (
            SELECT MAX(CAST(ts AS DATE)) AS dmax FROM events
        ), users AS (
            SELECT user_id,
                   CASE WHEN MIN(CASE WHEN event_type = 'error'
                                      THEN CAST(ts AS DATE) END) IS NOT NULL
                        THEN DATEDIFF('day', MIN(CAST(ts AS DATE)),
                                      MIN(CASE WHEN event_type = 'error'
                                               THEN CAST(ts AS DATE) END))
                        ELSE DATEDIFF('day', MIN(CAST(ts AS DATE)),
                                      (SELECT dmax FROM span))
                   END AS dur,
                   CASE WHEN MIN(CASE WHEN event_type = 'error'
                                      THEN CAST(ts AS DATE) END) IS NOT NULL
                        THEN 1 ELSE 0 END AS observed
            FROM events GROUP BY user_id
        ), by_dur AS (
            SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_total,
                   CAST(SUM(observed) AS BIGINT) AS n_deaths
            FROM users GROUP BY dur
        ), risk AS (
            SELECT dur, n_total, n_deaths,
                   CAST((SELECT COUNT(*) FROM users)
                        - COALESCE(SUM(n_total) OVER (ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS n_risk
            FROM by_dur
        ), surv AS (
            SELECT dur, n_risk, n_deaths,
                   CAST(n_total - n_deaths AS BIGINT) AS n_censored,
                   MAX(CASE WHEN n_deaths = n_risk THEN 1 ELSE 0 END)
                       OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS hit_zero,
                   SUM(CASE WHEN n_deaths > 0 AND n_deaths < n_risk
                            THEN LN(1.0 - CAST(n_deaths AS DOUBLE) / n_risk)
                            ELSE 0.0 END)
                       OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING) AS lsum
            FROM risk
        )
        SELECT CAST(dur AS INT) AS duration_days, n_risk, n_deaths, n_censored,
               ROUND(CASE WHEN hit_zero = 1 THEN 0.0 ELSE EXP(lsum) END, 6)
                   AS survival
        FROM surv ORDER BY duration_days
    """,
)
def t63_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    day = F.col("ts").cast("date")
    users = ev.groupBy("user_id").agg(
        F.min(day).alias("d0"),
        F.min(F.when(F.col("event_type") == "error", day)).alias("derr"),
        F.max(day).alias("dlast"),
    )
    dmax = users.agg(F.max("dlast").alias("dmax"))
    users = users.crossJoin(F.broadcast(dmax)).select(
        F.when(F.col("derr").isNotNull(), F.datediff("derr", "d0"))
        .otherwise(F.datediff("dmax", "d0"))
        .alias("dur"),
        F.when(F.col("derr").isNotNull(), 1).otherwise(0).alias("observed"),
    )
    by_dur = users.groupBy("dur").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum("observed").cast("bigint").alias("n_deaths"),
    )
    total = by_dur.agg(F.sum("n_total").alias("n_users"))
    # duration table is calendar-bounded (SCALE.md day-table class):
    # the ordered windows below run over <= corpus-span-in-days rows
    w_prev = W.orderBy("dur").rowsBetween(W.unboundedPreceding, -1)
    w_run = W.orderBy("dur").rowsBetween(W.unboundedPreceding, 0)
    risk = by_dur.crossJoin(F.broadcast(total)).select(
        "dur",
        "n_total",
        "n_deaths",
        (
            F.col("n_users") - F.coalesce(F.sum("n_total").over(w_prev), F.lit(0))
        ).cast("bigint").alias("n_risk"),
    )
    d, n = F.col("n_deaths").cast("double"), F.col("n_risk").cast("double")
    surv = risk.select(
        "dur",
        "n_risk",
        "n_deaths",
        (F.col("n_total") - F.col("n_deaths")).cast("bigint").alias("n_censored"),
        F.max(F.when(F.col("n_deaths") == F.col("n_risk"), 1).otherwise(0))
        .over(w_run)
        .alias("hit_zero"),
        F.sum(
            F.when(
                (F.col("n_deaths") > 0) & (F.col("n_deaths") < F.col("n_risk")),
                F.log(F.lit(1.0) - d / n),
            ).otherwise(0.0)
        )
        .over(w_run)
        .alias("lsum"),
    )
    return surv.select(
        F.col("dur").cast("int").alias("duration_days"),
        "n_risk",
        "n_deaths",
        "n_censored",
        F.round(
            F.when(F.col("hit_zero") == 1, 0.0).otherwise(F.exp("lsum")), 6
        ).alias("survival"),
    ).orderBy("duration_days")


# ---------------------------------------------------------------------------
# t64: calibration reliability bins (the probability-facing eval t47 lacks)
# ---------------------------------------------------------------------------

_T64_BINS = 10


@REGISTRY.register(
    name="t64_calibration_bins",
    survey_ref="training-data (model eval: calibration); t47's "
    "probability-facing sibling",
    doc="reliability diagram + expected-calibration-error for the weak "
    "labeler t47 thresholds: the raw value maps to a pseudo-probability "
    "p = v/(v+50) (monotone, deterministic on both sides), bucketed "
    f"into {_T64_BINS} equal-width bins; per bin the mean predicted "
    "probability vs the observed positive rate plus the bin's |gap| "
    "ECE contribution, with the overall ECE and Brier score as "
    "windows over the bin table on every row. One map-side bin "
    f"assignment + one {_T64_BINS}-key partial-agg shuffle — event "
    f"volume reduces to {_T64_BINS} rows before anything ordered "
    "happens. THE chart "
    "read before trusting auto-labels as training signal.",
    oracle=f"""
        WITH scored AS (
            SELECT value / (value + 50.0) AS p,
                   CASE WHEN event_type IN ('click', 'purchase', 'signup')
                        THEN 1.0 ELSE 0.0 END AS y
            FROM events WHERE value IS NOT NULL
        ), binned AS (
            SELECT LEAST({_T64_BINS} - 1,
                         CAST(FLOOR(p * {_T64_BINS}) AS INT)) AS bin,
                   p, y
            FROM scored
        ), per_bin AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(p) / COUNT(*) AS mean_pred,
                   SUM(y) / COUNT(*) AS pos_rate
            FROM binned GROUP BY bin
        ), overall AS (
            SELECT SUM(n * ABS(mean_pred - pos_rate)) / SUM(n) AS ece,
                   (SELECT SUM((p - y) * (p - y)) / COUNT(*) FROM binned)
                       AS brier
            FROM per_bin
        )
        SELECT b.bin, b.n,
               ROUND(b.mean_pred, 6) AS mean_pred,
               ROUND(b.pos_rate, 6) AS pos_rate,
               ROUND(b.mean_pred - b.pos_rate, 6) AS gap,
               ROUND(o.ece, 6) AS ece,
               ROUND(o.brier, 6) AS brier
        FROM per_bin b CROSS JOIN overall o
        ORDER BY b.bin
    """,
)
def t64_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return calibration_bins(labeled_scores(load_table(spark, "events", sf_dir)))


def calibration_bins(labeled: DataFrame) -> DataFrame:
    """t64's reliability rows over labeled_scores' (score, pos)."""
    p = F.col("score") / (F.col("score") + 50.0)
    y = F.col("pos").cast("double")
    binned = labeled.select(
        F.least(F.lit(_T64_BINS - 1), F.floor(p * _T64_BINS).cast("int")).alias(
            "bin"
        ),
        p.alias("p"),
        y.alias("y"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("p") / F.count("*")).alias("mean_pred"),
        (F.sum("y") / F.count("*")).alias("pos_rate"),
        F.sum((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))).alias("_se"),
    )
    # the overall rates are windows over the ≤ 10-row bin table, so the
    # labeled rows are read once (a cross join with an aggregate of
    # per_bin would read them twice)
    w_all = "OVER ()"
    return per_bin.selectExpr(
        "bin",
        "n",
        "round(mean_pred, 6) AS mean_pred",
        "round(pos_rate, 6) AS pos_rate",
        "round(mean_pred - pos_rate, 6) AS gap",
        f"round(sum(n * abs(mean_pred - pos_rate)) {w_all} / sum(n) {w_all}, 6) AS ece",
        f"round(sum(_se) {w_all} / sum(n) {w_all}, 6) AS brier",
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# t65: exact ROC AUC (tie-corrected Mann-Whitney, two-phase ranks)
# ---------------------------------------------------------------------------

_T65_SCORE_SHARD = 50.0  # score-range width per rank shard


@REGISTRY.register(
    name="t65_roc_auc",
    survey_ref="training-data (model eval: ranking quality); completes "
    "t47 (threshold metrics) + t64 (calibration) with the "
    "threshold-FREE metric",
    doc="exact ROC AUC of the value score predicting t47's intent "
    "label, via the tie-corrected Mann-Whitney identity: AUC = "
    "(R_pos - P(P+1)/2) / (P*N) where R_pos sums the AVERAGE ranks "
    "of positives (average rank of a tied score group = rows below "
    "+ (group size + 1)/2 — exactly how MIDRANKs define ties). "
    "Scale shape: scores first reduce per distinct value (one "
    "partial-agg shuffle), then the rows-below prefix sum runs "
    "TWO-PHASE — scores shard by FLOOR(score/50) into a bounded "
    "range-contiguous bucket table, per-bucket totals cumsum into "
    "broadcast offsets, and the only per-row window is "
    "bucket-partitioned (u9/u11's proven shape; no global "
    "rangepartitioning anywhere). Output also carries the Gini "
    "coefficient 2*AUC-1 the credit-scoring world quotes.",
    oracle="""
        WITH labeled AS (
            SELECT value AS score,
                   CASE WHEN event_type IN ('click', 'purchase', 'signup')
                        THEN 1 ELSE 0 END AS pos
            FROM events WHERE value IS NOT NULL
        ), per_score AS (
            SELECT score, CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(pos) AS DOUBLE) AS p
            FROM labeled GROUP BY score
        ), ranked AS (
            SELECT score, n, p,
                   COALESCE(SUM(n) OVER (ORDER BY score
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS below
            FROM per_score
        ), tot AS (
            SELECT SUM(p) AS np, SUM(n) - SUM(p) AS nn FROM per_score
        ), rsum AS (
            SELECT SUM(p * (below + (n + 1) / 2.0)) AS r_pos FROM ranked
        )
        SELECT CAST(t.np AS BIGINT) AS n_pos,
               CAST(t.nn AS BIGINT) AS n_neg,
               ROUND((r.r_pos - t.np * (t.np + 1) / 2.0) / (t.np * t.nn), 6)
                   AS auc,
               ROUND(2.0 * (r.r_pos - t.np * (t.np + 1) / 2.0) / (t.np * t.nn)
                     - 1.0, 6) AS gini
        FROM tot t CROSS JOIN rsum r
    """,
)
def t65_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roc_auc(labeled_scores(load_table(spark, "events", sf_dir)))


def roc_auc(labeled: DataFrame) -> DataFrame:
    """t65's row over labeled_scores' (score, pos)."""
    from pyspark.sql import Window as W

    per_score = labeled.groupBy("score").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("pos").cast("double").alias("p"),
    )
    # two-phase rows-below: bounded score-range shards, offsets
    # broadcast, per-row window bucket-partitioned (never global)
    sharded = per_score.withColumn(
        "_b", F.floor(F.col("score") / _T65_SCORE_SHARD).cast("bigint")
    )
    b_tot = sharded.groupBy("_b").agg(F.sum("n").alias("_bn"))
    w_off = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offsets = b_tot.select(
        "_b", F.coalesce(F.sum("_bn").over(w_off), F.lit(0.0)).alias("_off")
    )
    w_local = W.partitionBy("_b").orderBy("score").rowsBetween(
        W.unboundedPreceding, -1
    )
    ranked = sharded.join(F.broadcast(offsets), "_b").select(
        "n",
        "p",
        (F.col("_off") + F.coalesce(F.sum("n").over(w_local), F.lit(0.0))).alias(
            "below"
        ),
    )
    agg = ranked.agg(
        F.sum("p").alias("np"),
        (F.sum("n") - F.sum("p")).alias("nn"),
        F.sum(F.col("p") * (F.col("below") + (F.col("n") + 1) / 2.0)).alias(
            "r_pos"
        ),
    )
    auc = (F.col("r_pos") - F.col("np") * (F.col("np") + 1) / 2.0) / (
        F.col("np") * F.col("nn")
    )
    return agg.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )


# ---------------------------------------------------------------------------
# t66: Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t66_markov_transitions",
    survey_ref="§2.11 analytics extra (t35 emits next-item EXAMPLES; "
    "this is the aggregate next-TYPE model)",
    doc="first-order Markov transition matrix of event types: per-user "
    "sequences ordered by (ts, event_id), LEAD gives each step's "
    "successor, and P(next|cur) normalizes the transition counts by "
    "row. The sequence window is user-partitioned (the SAME "
    "user-keyed shuffle t25/t35 price — never a global order) and "
    "the matrix itself is event_type x event_type (bounded, "
    "broadcast-normalized). The table a session simulator or "
    "next-action baseline reads; a row-stochasticity check rides "
    "every row (row sums = 1 within rounding).",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        ), trans AS (
            SELECT event_type AS cur_type, next_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE next_type IS NOT NULL
            GROUP BY event_type, next_type
        ), totals AS (
            SELECT cur_type, SUM(n) AS row_n FROM trans GROUP BY cur_type
        )
        SELECT t.cur_type, t.next_type, t.n,
               ROUND(CAST(t.n AS DOUBLE) / ttl.row_n, 6) AS prob
        FROM trans t JOIN totals ttl USING (cur_type)
        ORDER BY t.cur_type, t.next_type
    """,
)
def t66_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = (
        seq.groupBy(F.col("event_type").alias("cur_type"), "next_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    totals = trans.groupBy("cur_type").agg(F.sum("n").alias("row_n"))
    return (
        trans.join(F.broadcast(totals), "cur_type")
        .select(
            "cur_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("row_n"), 6).alias("prob"),
        )
        .orderBy("cur_type", "next_type")
    )


# ---------------------------------------------------------------------------
# t74: difference-in-differences (the causal layer over t27's A/B)
# ---------------------------------------------------------------------------

_T74_POST = "2024-01-15"  # intervention date
_T74_LIFT = 0.2  # planted multiplicative effect on treated-post rows


@REGISTRY.register(
    name="t74_diff_in_diff",
    survey_ref="§2.11 analytics extra (causal inference); t27 compares "
    "two arms at one time — DiD nets out the shared time trend a "
    "naive post-only comparison confounds",
    doc="difference-in-differences over the event value: treatment = "
    f"odd user_id, post = day >= {_T74_POST}, with a "
    f"{_T74_LIFT:.0%} multiplicative effect PLANTED on treated-post "
    "rows in-query (the synthetic corpus has no real intervention — "
    "f42/v26's planted-truth convention). DiD estimate = (T_post − "
    "T_pre) − (C_post − C_pre) over cell means; the output carries "
    "the four cell means, the naive post-only gap (which absorbs "
    "any pre-existing arm imbalance), the DiD estimate with its "
    "standard error sqrt(Σ varᵢ/nᵢ), the planted ground truth "
    "(lift × treated-post baseline mean), and the in-query recovery "
    "check |did − truth| < 2·SE — the statistically honest bound "
    "(a fixed % tolerance fails at small n from sampling noise "
    "alone). ONE map-side 4-cell aggregate; event volume reduces "
    "to a dozen counters (t27's shape).",
    oracle=f"""
        WITH cells AS (
            SELECT user_id % 2 = 1 AS treated,
                   CAST(ts AS DATE) >= '{_T74_POST}' AS post,
                   CASE WHEN user_id % 2 = 1
                         AND CAST(ts AS DATE) >= '{_T74_POST}'
                        THEN value * (1.0 + {_T74_LIFT}) ELSE value END AS y,
                   value AS y0
            FROM events WHERE value IS NOT NULL
        ), agg AS (
            SELECT treated, post,
                   AVG(y) AS m, VAR_SAMP(y) AS v,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   AVG(y0) AS m0
            FROM cells GROUP BY treated, post
        ), wide AS (
            SELECT
                MAX(CASE WHEN treated AND post THEN m END) AS t_post,
                MAX(CASE WHEN treated AND NOT post THEN m END) AS t_pre,
                MAX(CASE WHEN NOT treated AND post THEN m END) AS c_post,
                MAX(CASE WHEN NOT treated AND NOT post THEN m END) AS c_pre,
                MAX(CASE WHEN treated AND post THEN m0 END) AS t_post_base,
                SQRT(SUM(v / n)) AS se
            FROM agg
        )
        SELECT ROUND(t_pre, 4) AS treated_pre_mean,
               ROUND(t_post, 4) AS treated_post_mean,
               ROUND(c_pre, 4) AS control_pre_mean,
               ROUND(c_post, 4) AS control_post_mean,
               ROUND(t_post - c_post, 4) AS naive_post_gap,
               ROUND((t_post - t_pre) - (c_post - c_pre), 4) AS did_estimate,
               ROUND(se, 4) AS did_se,
               ROUND({_T74_LIFT} * t_post_base, 4) AS planted_effect,
               ABS((t_post - t_pre) - (c_post - c_pre)
                   - {_T74_LIFT} * t_post_base) < 2.0 * se AS recovered
        FROM wide
    """,
)
def t74_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return diff_in_diff(load_table(spark, "events", sf_dir))


def diff_in_diff(events: DataFrame) -> DataFrame:
    """t74's one-row DiD readout over ``events``."""
    ev = events.filter(F.col("value").isNotNull())
    treated = F.col("user_id") % 2 == 1
    post = F.col("ts").cast("date") >= F.lit(_T74_POST)
    y = F.when(treated & post, F.col("value") * (1.0 + _T74_LIFT)).otherwise(
        F.col("value")
    )
    cells = ev.select(
        treated.alias("treated"), post.alias("post"), y.alias("y"),
        F.col("value").alias("y0"),
    )
    agg = cells.groupBy("treated", "post").agg(
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
        F.count("*").cast("double").alias("n"),
        F.avg("y0").alias("m0"),
    )

    def cell(col, t, p):
        cond = (F.col("treated") == t) & (F.col("post") == p)
        return F.max(F.when(cond, F.col(col)))

    wide = agg.agg(
        cell("m", True, True).alias("t_post"),
        cell("m", True, False).alias("t_pre"),
        cell("m", False, True).alias("c_post"),
        cell("m", False, False).alias("c_pre"),
        cell("m0", True, True).alias("t_post_base"),
        F.sqrt(F.sum(F.col("v") / F.col("n"))).alias("se"),
    )
    did = (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))
    truth = F.lit(_T74_LIFT) * F.col("t_post_base")
    return wide.select(
        F.round("t_pre", 4).alias("treated_pre_mean"),
        F.round("t_post", 4).alias("treated_post_mean"),
        F.round("c_pre", 4).alias("control_pre_mean"),
        F.round("c_post", 4).alias("control_post_mean"),
        F.round(F.col("t_post") - F.col("c_post"), 4).alias("naive_post_gap"),
        F.round(did, 4).alias("did_estimate"),
        F.round("se", 4).alias("did_se"),
        F.round(truth, 4).alias("planted_effect"),
        (F.abs(did - truth) < 2.0 * F.col("se")).alias("recovered"),
    )


# ---------------------------------------------------------------------------
# t75: forecasting feature frame (the supervised table a forecaster trains on)
# ---------------------------------------------------------------------------


def daily_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t75's feature frame as a reusable input: (day, y, lag1, lag7,
    ma7, dow, is_weekend) — t78's conformal intervals and t79's OLS
    fit consume the SAME frame so the feature definitions (and the
    no-leakage ma7) cannot desync across the forecasting stack."""
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    days = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("y")
    )
    w = W.orderBy("day")
    w_ma = W.orderBy("day").rowsBetween(-7, -1)
    dow = F.dayofweek("day") - 1  # DuckDB DAYOFWEEK: Sunday=0; Spark: 1
    return days.select(
        F.col("day").cast("string").alias("day"),
        "y",
        F.lag("y", 1).over(w).alias("lag1"),
        F.lag("y", 7).over(w).alias("lag7"),
        F.when(
            F.row_number().over(w) > 7, F.round(F.avg("y").over(w_ma), 4)
        ).alias("ma7"),
        dow.cast("int").alias("dow"),
        dow.isin(0, 6).alias("is_weekend"),
    )


_T75_DAYS_SQL = """
        days AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS y
            FROM events GROUP BY 1
        ), feats AS (
            SELECT CAST(day AS VARCHAR) AS day, y,
                   LAG(y, 1) OVER w AS lag1,
                   LAG(y, 7) OVER w AS lag7,
                   CASE WHEN ROW_NUMBER() OVER w > 7
                        THEN ROUND(AVG(y) OVER (ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 4)
                   END AS ma7,
                   CAST(DAYOFWEEK(day) AS INT) AS dow,
                   DAYOFWEEK(day) IN (0, 6) AS is_weekend
            FROM days
            WINDOW w AS (ORDER BY day)
        )"""


@REGISTRY.register(
    name="t75_forecast_features",
    survey_ref="§2.11 analytics extra (ML feature prep); t31 DESCRIBES "
    "seasonality — this emits the supervised frame a forecaster "
    "actually trains on",
    doc="per-day feature engineering over the event count series: "
    "target y (events that day) with lag-1, lag-7, trailing-7-day "
    "mean (excluding today — no target leakage, the classic "
    "feature-engineering bug), day-of-week, and is_weekend. Rows "
    "whose lag-7 window precedes the corpus start keep NULL "
    "features rather than silently imputing (the consumer decides). "
    "Event volume reduces to the day table in ONE partial-agg "
    "shuffle; every window runs over that calendar-bounded table "
    "(SCALE.md day-table class).",
    oracle="WITH " + _T75_DAYS_SQL + """
        SELECT day, y, lag1, lag7, ma7, dow, is_weekend
        FROM feats ORDER BY day
    """,
)
def t75_forecast_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return daily_feature_frame(spark, sf_dir).orderBy("day")


# ---------------------------------------------------------------------------
# t78: split-conformal forecast intervals (distribution-free coverage)
# ---------------------------------------------------------------------------

_T78_LEVEL = 0.9
_T78_CALIB_FRAC = 0.6


@REGISTRY.register(
    name="t78_conformal_forecast",
    survey_ref="§2.11 analytics extra (uncertainty quantification); t75 "
    "emits point features — this wraps ANY forecaster (here the ma7 "
    "baseline) in distribution-free intervals",
    doc="split-conformal prediction intervals around the trailing-mean "
    f"forecast: the feature days (ma7 defined) split {_T78_CALIB_FRAC:.0%}"
    "/rest by date into calibration/test, the conformal quantile is "
    f"the ⌈{_T78_LEVEL}·(n+1)⌉-th smallest calibration |residual| "
    "(the finite-sample correction that makes coverage ≥90% "
    "GUARANTEED for exchangeable data — an empirical quantile alone "
    "under-covers), and every test day gets [ŷ−q, ŷ+q] with its "
    "covered flag plus the realized coverage broadcast. Reuses t75's "
    "daily_feature_frame so the features cannot desync. All windows "
    "over the calendar-bounded day table.",
    oracle=f"""
        WITH {_T75_DAYS_SQL},
        ranked AS (
            SELECT day, y, ma7,
                   ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   COUNT(*) OVER () AS n_feat
            FROM feats WHERE ma7 IS NOT NULL
        ), split AS (
            SELECT *, rn <= CEIL({_T78_CALIB_FRAC} * n_feat) AS is_calib
            FROM ranked
        ), calib AS (
            SELECT ABS(y - ma7) AS resid,
                   ROW_NUMBER() OVER (ORDER BY ABS(y - ma7)) AS rr,
                   COUNT(*) OVER () AS nc
            FROM split WHERE is_calib
        ), q AS (
            SELECT resid AS qhat FROM calib
            WHERE rr = LEAST(CAST(CEIL({_T78_LEVEL} * (nc + 1)) AS BIGINT), nc)
        ), test AS (
            SELECT s.day, s.y, s.ma7 AS yhat,
                   ROUND(s.ma7 - q.qhat, 4) AS lo,
                   ROUND(s.ma7 + q.qhat, 4) AS hi,
                   s.y >= s.ma7 - q.qhat AND s.y <= s.ma7 + q.qhat AS covered
            FROM split s CROSS JOIN q WHERE NOT s.is_calib
        )
        SELECT day, y, yhat, lo, hi, covered,
               ROUND(AVG(CASE WHEN covered THEN 1.0 ELSE 0.0 END)
                     OVER (), 4) AS realized_coverage
        FROM test ORDER BY day
    """,
)
def t78_conformal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conformal_forecast(*forecast_split(daily_feature_frame(spark, sf_dir)))


def forecast_split(feats: DataFrame) -> tuple[DataFrame, int]:
    """(split, n_fit): the feature days with ma7 defined as (day, y,
    lag1, ma7, is_fit), where is_fit marks the first ⌈60%⌉ by date —
    t78's calibration days and t79's training days — and n_fit counts
    them. ma7 is defined only from the 8th day on and lag1 from the
    2nd, so these are also the days t79's oracle keeps. One eager
    count; it also fills the persisted day rows every reader shares."""
    from pyspark.sql import Window as W

    ranked = (
        feats.filter(F.col("ma7").isNotNull())
        .select("day", "y", "lag1", "ma7", F.row_number().over(W.orderBy("day")).alias("rn"))
        .transform(persist_once)
    )
    n_fit = int(-(-_T78_CALIB_FRAC * ranked.count() // 1))  # ceil
    return ranked.select("day", "y", "lag1", "ma7", (F.col("rn") <= n_fit).alias("is_fit")), n_fit


def conformal_forecast(split: DataFrame, n_fit: int) -> DataFrame:
    """t78's test-day intervals over forecast_split's output."""
    k = min(int(-(-_T78_LEVEL * (n_fit + 1) // 1)), n_fit)
    q = (
        split.where("is_fit")
        .selectExpr("abs(y - ma7) AS resid")
        .withColumn("rr", F.expr("row_number() OVER (ORDER BY resid)"))
        .where(f"rr = {k}")
        .selectExpr("resid AS qhat")
    )
    return (
        split.where("NOT is_fit")
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "day", "y", "ma7 AS yhat",
            "round(ma7 - qhat, 4) AS lo", "round(ma7 + qhat, 4) AS hi",
            "y >= ma7 - qhat AND y <= ma7 + qhat AS covered",
        )
        .selectExpr(
            "*",
            "round(avg(CASE WHEN covered THEN 1.0D ELSE 0.0D END) OVER (), 4) AS realized_coverage",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# t79: closed-form OLS forecaster vs the naive baseline (the honest bar)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t79_ols_forecast",
    survey_ref="§2.11 analytics extra (the model layer over t75's "
    "features); t41 fits one variable — this solves the 2-feature "
    "normal equations and reports against the baseline every "
    "forecast paper must beat",
    doc="two-feature OLS (y ~ intercept + lag1 + ma7) fit CLOSED-FORM "
    "on t75's calibration days — variables centered by train means, "
    "the 2×2 normal equations solved by determinant (no solver, no "
    "iteration; t41's discipline one dimension up) — then evaluated "
    "on the held-out days as test MAE NEXT TO the naive "
    "y(t)=y(t−1) baseline's MAE, with the beats-naive verdict "
    "computed in-query (a forecaster that loses to persistence is "
    "not a forecaster). Everything is sums over the calendar-bounded "
    "day table; the fit is one aggregate row.",
    oracle=f"""
        WITH {_T75_DAYS_SQL},
        ranked AS (
            SELECT day, y, lag1, ma7,
                   ROW_NUMBER() OVER (ORDER BY day) AS rn,
                   COUNT(*) OVER () AS n_feat
            FROM feats WHERE ma7 IS NOT NULL AND lag1 IS NOT NULL
        ), split AS (
            SELECT *, rn <= CEIL({_T78_CALIB_FRAC} * n_feat) AS is_train
            FROM ranked
        ), means AS (
            SELECT AVG(y) AS my, AVG(lag1) AS m1, AVG(ma7) AS m2
            FROM split WHERE is_train
        ), sums AS (
            SELECT SUM((lag1 - m1) * (lag1 - m1)) AS s11,
                   SUM((ma7 - m2) * (ma7 - m2)) AS s22,
                   SUM((lag1 - m1) * (ma7 - m2)) AS s12,
                   SUM((lag1 - m1) * (y - my)) AS s1y,
                   SUM((ma7 - m2) * (y - my)) AS s2y,
                   ANY_VALUE(my) AS my, ANY_VALUE(m1) AS m1,
                   ANY_VALUE(m2) AS m2
            FROM split CROSS JOIN means WHERE is_train
        ), coefs AS (
            SELECT (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) AS b1,
                   (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) AS b2,
                   my, m1, m2
            FROM sums
        ), named AS (
            SELECT b1, b2, my - b1 * m1 - b2 * m2 AS a FROM coefs
        ), eval AS (
            SELECT AVG(ABS(s.y - (n.a + n.b1 * s.lag1 + n.b2 * s.ma7)))
                       AS mae_ols,
                   AVG(ABS(s.y - s.lag1)) AS mae_naive
            FROM split s CROSS JOIN named n WHERE NOT s.is_train
        )
        SELECT ROUND(n.b1, 6) AS beta_lag1,
               ROUND(n.b2, 6) AS beta_ma7,
               ROUND(n.a, 4) AS intercept,
               ROUND(e.mae_ols, 4) AS mae_ols,
               ROUND(e.mae_naive, 4) AS mae_naive,
               e.mae_ols < e.mae_naive AS beats_naive
        FROM named n CROSS JOIN eval e
    """,
)
def t79_ols_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    split, _ = forecast_split(daily_feature_frame(spark, sf_dir))
    return ols_forecast(split)


def ols_forecast(split: DataFrame) -> DataFrame:
    """t79's fit-and-evaluate row over forecast_split's frame: trains on
    the is_fit days, scores the rest."""
    fit = split.where("is_fit")
    means = fit.selectExpr("avg(y) AS my", "avg(lag1) AS m1", "avg(ma7) AS m2")
    c1, c2, cy = "(lag1 - m1)", "(ma7 - m2)", "(y - my)"
    sums = fit.crossJoin(F.broadcast(means)).selectExpr(
        f"sum({c1} * {c1}) AS s11", f"sum({c2} * {c2}) AS s22", f"sum({c1} * {c2}) AS s12",
        f"sum({c1} * {cy}) AS s1y", f"sum({c2} * {cy}) AS s2y",
        "first(my) AS my", "first(m1) AS m1", "first(m2) AS m2",
    )
    det = "(s11 * s22 - s12 * s12)"
    named = sums.selectExpr(
        f"(s22 * s1y - s12 * s2y) / {det} AS b1", f"(s11 * s2y - s12 * s1y) / {det} AS b2",
        "my", "m1", "m2",
    ).selectExpr("b1", "b2", "my - b1 * m1 - b2 * m2 AS a")
    ev = split.where("NOT is_fit").crossJoin(F.broadcast(named)).selectExpr(
        "avg(abs(y - (a + b1 * lag1 + b2 * ma7))) AS mae_ols", "avg(abs(y - lag1)) AS mae_naive"
    )
    return named.crossJoin(F.broadcast(ev)).selectExpr(
        "round(b1, 6) AS beta_lag1", "round(b2, 6) AS beta_ma7", "round(a, 4) AS intercept",
        "round(mae_ols, 4) AS mae_ols", "round(mae_naive, 4) AS mae_naive",
        "mae_ols < mae_naive AS beats_naive",
    )


# ---------------------------------------------------------------------------
# t80: A/B power analysis (the design-stage readout t27 lacks)
# ---------------------------------------------------------------------------

_T80_Z_ALPHA = 1.959964  # two-sided alpha = 0.05
_T80_Z_BETA = 0.841621  # power = 0.80
_T80_REL_MDE = 0.10  # design lift: +10% relative


@REGISTRY.register(
    name="t80_power_analysis",
    survey_ref="§2.11 analytics extra (experiment design); t27 judges a "
    "FINISHED test — this says whether the test is worth starting",
    doc="two-proportion power analysis per event type: baseline "
    "conversion p0 = P(value ≥ 5 | type), target p1 = min(p0·1.1, "
    "0.999) — the fixture's rates sit near 0.9, where an unclamped "
    "relative lift exceeds 1.0 and the formula silently designs for "
    "an impossible rate — the per-arm sample size "
    f"needed to detect a {_T80_REL_MDE:.0%} relative lift at "
    "α=0.05 (two-sided) with 80% power — n = (z_{α/2} + z_β)² · "
    "(p0·q0 + p1·q1) / (p1 − p0)² — next to the type's CURRENT "
    "per-arm volume (a 50/50 split of its events) and the verdict "
    "adequately_powered. The table a growth team reads before "
    "launching: an underpowered test burns traffic to produce an "
    "inconclusive t27. ONE map-side per-type aggregate; everything "
    "downstream is closed-form scalar math on a 5-row table.",
    oracle=f"""
        WITH rates AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   AVG(CASE WHEN value >= 5 THEN 1.0 ELSE 0.0 END) AS p0
            FROM events WHERE value IS NOT NULL
            GROUP BY event_type
        ), design AS (
            SELECT event_type, n_events, p0,
                   LEAST(p0 * (1.0 + {_T80_REL_MDE}), 0.999) AS p1,
                   n_events // 2 AS n_per_arm
            FROM rates
        )
        SELECT event_type,
               ROUND(p0, 6) AS baseline_rate,
               ROUND(p1, 6) AS target_rate,
               CAST(n_per_arm AS BIGINT) AS n_per_arm_current,
               CAST(CEIL(POW({_T80_Z_ALPHA} + {_T80_Z_BETA}, 2)
                         * (p0 * (1.0 - p0) + p1 * (1.0 - p1))
                         / POW(p1 - p0, 2)) AS BIGINT) AS n_per_arm_required,
               n_per_arm >= CEIL(POW({_T80_Z_ALPHA} + {_T80_Z_BETA}, 2)
                                 * (p0 * (1.0 - p0) + p1 * (1.0 - p1))
                                 / POW(p1 - p0, 2)) AS adequately_powered
        FROM design ORDER BY event_type
    """,
)
def t80_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return power_analysis(load_table(spark, "events", sf_dir))


def power_analysis(events: DataFrame) -> DataFrame:
    """t80's per-type design table over ``events``."""
    ev = events.filter(F.col("value").isNotNull())
    rates = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.avg(F.when(F.col("value") >= 5, 1.0).otherwise(0.0)).alias("p0"),
    )
    p1 = F.least(F.col("p0") * (1.0 + _T80_REL_MDE), F.lit(0.999))
    design = rates.select(
        "event_type",
        "p0",
        p1.alias("p1"),
        (F.col("n_events") / 2).cast("bigint").alias("n_per_arm"),
    )
    n_req = F.ceil(
        F.pow(F.lit(_T80_Z_ALPHA + _T80_Z_BETA), 2)
        * (
            F.col("p0") * (1.0 - F.col("p0"))
            + F.col("p1") * (1.0 - F.col("p1"))
        )
        / F.pow(F.col("p1") - F.col("p0"), 2)
    )
    return design.select(
        "event_type",
        F.round("p0", 6).alias("baseline_rate"),
        F.round("p1", 6).alias("target_rate"),
        F.col("n_per_arm").alias("n_per_arm_current"),
        n_req.cast("bigint").alias("n_per_arm_required"),
        (F.col("n_per_arm") >= n_req).alias("adequately_powered"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# t84: population stability index (the scorecard-world drift metric)
# ---------------------------------------------------------------------------

_T84_SPLIT = "2024-01-15"  # reference period < split <= comparison period
_T84_BINS = 10
_T84_ALERT = 0.2  # industry convention: <0.1 stable, 0.1-0.2 watch, >0.2 act


@REGISTRY.register(
    name="t84_psi_drift",
    survey_ref="§2.11 analytics extra (distribution drift); v16/t36 "
    "z-test per-dimension MEANS — PSI compares whole DISTRIBUTIONS "
    "on bins frozen from the reference period, the metric risk "
    "scorecards are contractually monitored with",
    doc="population stability index of the value distribution, first "
    f"half vs second half of the corpus (split {_T84_SPLIT}): decile "
    "bin edges are computed ON THE REFERENCE PERIOD ONLY (re-binning "
    "on the union hides drift — the classic PSI mistake), both "
    "periods histogram onto those frozen edges, and PSI = Σ (p−q)·"
    "ln(p/q) with the 0.1/0.2 watch/act verdict per event_type. "
    "Empty comparison bins are floored at 1e-4 (standard "
    "continuity correction, spelled identically on both sides). The "
    "fixture is stationary (every type reads ~0.01-0.03 PSI), so a "
    "2× scale shift is PLANTED on the error type's comparison "
    "period — it reads 'act' while every untouched type stays "
    "'stable' at the driver's sf0.01 (small-n noise can push an "
    "untouched type to 'watch' at sf0.001 — honest PSI behavior), "
    "pinned by the hash (t74's planted-truth convention). "
    "Shape (r12): edge quantiles in one reference pass, then ONE "
    "side-tagged scan bins both periods onto the broadcast edge "
    "table (types × 9 cuts) and a single (type, bin) aggregation "
    "counts ref and cmp at once — p and q share a row, so the "
    "former rp⋈cp join is gone and the per-type totals are windows "
    "over the tiny bin frame.",
    oracle=f"""
        WITH ref AS (
            SELECT event_type, value FROM events
            WHERE value IS NOT NULL AND CAST(ts AS DATE) < '{_T84_SPLIT}'
        ), cmp AS (
            SELECT event_type,
                   CASE WHEN event_type = 'error' THEN value * 2.0
                        ELSE value END AS value
            FROM events
            WHERE value IS NOT NULL AND CAST(ts AS DATE) >= '{_T84_SPLIT}'
        ), edges AS (
            SELECT event_type,
                   QUANTILE_CONT(value,
                       {[i / _T84_BINS for i in range(1, _T84_BINS)]}) AS cuts
            FROM ref GROUP BY event_type
        ), rbin AS (
            SELECT r.event_type,
                   LEN(LIST_FILTER(e.cuts, c -> r.value > c)) AS bin
            FROM ref r JOIN edges e USING (event_type)
        ), cbin AS (
            SELECT c.event_type,
                   LEN(LIST_FILTER(e.cuts, x -> c.value > x)) AS bin
            FROM cmp c JOIN edges e USING (event_type)
        ), rp AS (
            SELECT event_type, bin,
                   COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY event_type)
                       AS p
            FROM rbin GROUP BY event_type, bin
        ), cp AS (
            SELECT event_type, bin,
                   COUNT(*) / SUM(COUNT(*)) OVER (PARTITION BY event_type)
                       AS q
            FROM cbin GROUP BY event_type, bin
        ), terms AS (
            SELECT r.event_type,
                   (r.p - GREATEST(COALESCE(c.q, 0), 1e-4))
                   * LN(r.p / GREATEST(COALESCE(c.q, 0), 1e-4)) AS term
            FROM rp r LEFT JOIN cp c
              ON c.event_type = r.event_type AND c.bin = r.bin
        )
        SELECT event_type, ROUND(SUM(term), 6) AS psi,
               CASE WHEN SUM(term) > {_T84_ALERT} THEN 'act'
                    WHEN SUM(term) > 0.1 THEN 'watch'
                    ELSE 'stable' END AS verdict
        FROM terms GROUP BY event_type ORDER BY event_type
    """,
)
def t84_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psi_drift(drift_sides(load_table(spark, "events", sf_dir)))


def drift_sides(ev: DataFrame) -> DataFrame:
    """(event_type, value, r): the one side-tagged scan t84, t113 and
    pipeline_drift_card read. r = 1 marks the reference period (day <
    split), r = 0 the comparison period, whose error values carry the
    planted 2x shift. Rows without a value or a ts are dropped: a null
    ts would give a null r, and a count(*) − Σr would then count the
    row as comparison-side where both oracles exclude it from both
    periods (the fixture's ts is never null)."""
    day = "CAST(ts AS DATE)"
    return ev.where("value IS NOT NULL AND ts IS NOT NULL").selectExpr(
        "event_type",
        f"CASE WHEN {day} >= DATE'{_T84_SPLIT}' AND event_type = 'error' "
        "THEN value * 2.0 ELSE value END AS value",
        f"CAST({day} < DATE'{_T84_SPLIT}' AS INT) AS r",
    )


def psi_drift(sides: DataFrame) -> DataFrame:
    """t84's per-type PSI rows over drift_sides' frame."""
    # r12 optimization (guide §2.4, the t98 side-tag discipline): the
    # former shape binned ref and cmp as SEPARATE scans and built two
    # (type, bin) distributions (groupBy + per-type window each), then
    # LEFT-joined them — 3 events scans, ~5 exchanges, 1 join. Both
    # sides bin onto the same frozen edges, so ONE side-tagged scan
    # (r = 1 for the reference period) feeds ONE (type, bin)
    # aggregation counting both sides at once; p and q then live in
    # the same row (join-free terms) and the per-type totals are
    # windows over the tiny ≤ types×bins frame. 2 events passes total
    # (edge quantiles, binning) — the floor of any frozen-bin PSI.
    cuts = ", ".join(f"{i / _T84_BINS}D" for i in range(1, _T84_BINS))
    # reference values are unshifted, so the edges come off the r = 1 rows
    edges = sides.where("r = 1").groupBy("event_type").agg(
        F.expr(f"percentile(value, array({cuts})) AS cuts")
    )
    counts = (
        sides.join(F.broadcast(edges), "event_type")
        .selectExpr("event_type", "size(filter(cuts, c -> value > c)) AS bin", "r")
        .groupBy("event_type", "bin")
        .agg(F.sum("r").alias("rn"), (F.count("*") - F.sum("r")).alias("cn"))
    )
    w_t = "OVER (PARTITION BY event_type)"
    q = "greatest(q0, 0.0001D)"
    terms = (
        counts.selectExpr("event_type", "rn", f"rn / sum(rn) {w_t} AS p", f"cn / sum(cn) {w_t} AS q0")
        .where("rn > 0")  # bins absent from ref never held an rp row
        .selectExpr("event_type", f"(p - {q}) * ln(p / {q}) AS term")
    )
    return (
        terms.groupBy("event_type")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
        .selectExpr(
            "event_type",
            "psi",
            f"CASE WHEN psi > {_T84_ALERT} THEN 'act' WHEN psi > 0.1 THEN 'watch'"
            " ELSE 'stable' END AS verdict",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# t89: feature-store point-in-time join with TTL (stale features = NULL)
# ---------------------------------------------------------------------------

_T89_TTL_S = 2 * 86400  # max feature age: 2 days


@REGISTRY.register(
    name="t89_feature_store_join",
    survey_ref="training-data (feature-store semantics); j8's as-of "
    "join takes the last value at ANY age — a feature store also "
    "enforces a TTL, because a week-old 'recent activity' feature is "
    "training-serving skew in disguise",
    doc="point-in-time feature join with staleness rejection: for each "
    "purchase event, the user's most recent PRIOR view value attaches "
    f"only if it is at most {_T89_TTL_S // 86400} days old — older "
    "features become NULL (is_stale=true) rather than silently "
    "leaking ancient state into training rows. Same single "
    "user-keyed shuffle as j8 (union + ordered window with "
    "ignoreNulls LAST), with the TTL as a map-side age check on the "
    "carried feature timestamp; output carries feature_age_s so the "
    "TTL choice itself can be audited (t62's discipline for "
    "watermarks, here for feature freshness).",
    oracle=f"""
        WITH tagged AS (
            SELECT user_id, ts, event_id, event_type, value,
                   CASE WHEN event_type = 'view' THEN value END AS f_val,
                   CASE WHEN event_type = 'view' THEN ts END AS f_ts
            FROM events WHERE event_type IN ('purchase', 'view')
        ), carried AS (
            SELECT user_id, ts, event_id, event_type,
                   LAST_VALUE(f_val IGNORE NULLS) OVER w AS last_view_val,
                   LAST_VALUE(f_ts IGNORE NULLS) OVER w AS last_view_ts
            FROM tagged
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id,
               (EPOCH_US(ts) - EPOCH_US(last_view_ts)) // 1000000
                   AS feature_age_s,
               CASE WHEN last_view_ts IS NOT NULL
                     AND (EPOCH_US(ts) - EPOCH_US(last_view_ts)) // 1000000
                         <= {_T89_TTL_S}
                    THEN ROUND(last_view_val, 2) END AS feature_value,
               last_view_ts IS NOT NULL
                   AND (EPOCH_US(ts) - EPOCH_US(last_view_ts)) // 1000000
                       > {_T89_TTL_S}
                   AS is_stale
        FROM carried WHERE event_type = 'purchase'
        ORDER BY event_id
    """,
)
def t89_feature_store_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
    )
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("value")).alias("f_val"),
        F.when(F.col("event_type") == "view", F.col("ts")).alias("f_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = tagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.last("f_val", ignorenulls=True).over(w).alias("last_view_val"),
        F.last("f_ts", ignorenulls=True).over(w).alias("last_view_ts"),
    )
    age = F.floor(
        (F.unix_micros("ts") - F.unix_micros("last_view_ts")) / 1_000_000
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            age.cast("bigint").alias("feature_age_s"),
            F.when(
                F.col("last_view_ts").isNotNull() & (age <= _T89_TTL_S),
                F.round("last_view_val", 2),
            ).alias("feature_value"),
            (F.col("last_view_ts").isNotNull() & (age > _T89_TTL_S)).alias(
                "is_stale"
            ),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# t90: empirical-Bayes rate shrinkage (small-sample user rates done right)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t90_eb_shrinkage",
    survey_ref="§2.11 analytics extra (hierarchical estimation); raw "
    "per-user rates rank a 1/1 user above a 95/100 user — shrinkage "
    "is how every leaderboard/segmentation actually scores sparse "
    "entities",
    doc="beta-binomial empirical Bayes: per-user purchase rate (over "
    "purchase+view events) shrunk toward the population prior fit by "
    "METHOD OF MOMENTS on the user-rate distribution (α+β = "
    "m(1−m)/var − 1 — one closed-form 1-row aggregate, no MCMC), "
    "shrunk = (x+α)/(n+α+β). Output per user: raw vs shrunk rate "
    "and the absolute pull — sparse users move toward the prior "
    "mean, heavy users barely move (max-pull vs min-pull users "
    "pinned by the hash). ONE user-keyed partial-agg shuffle; the "
    "prior is a broadcast scalar row.",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                                 ELSE 0 END) AS DOUBLE) AS x
            FROM events WHERE event_type IN ('purchase', 'view')
            GROUP BY user_id
        ), prior AS (
            SELECT AVG(x / n) AS m,
                   VAR_SAMP(x / n) AS v
            FROM per_user
        ), ab AS (
            SELECT m, v,
                   (m * (1 - m) / v - 1) * m AS alpha,
                   (m * (1 - m) / v - 1) * (1 - m) AS beta
            FROM prior
        )
        SELECT u.user_id,
               CAST(u.n AS BIGINT) AS n_events,
               CAST(u.x AS BIGINT) AS n_purchases,
               ROUND(u.x / u.n, 6) AS raw_rate,
               ROUND((u.x + a.alpha) / (u.n + a.alpha + a.beta), 6)
                   AS shrunk_rate,
               ROUND(ABS(u.x / u.n
                         - (u.x + a.alpha) / (u.n + a.alpha + a.beta)), 6)
                   AS pull
        FROM per_user u CROSS JOIN ab a
        ORDER BY u.user_id
    """,
)
def t90_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(
        F.col("event_type").isin("purchase", "view")
    )
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("x"),
    )
    prior = per_user.agg(
        F.avg(F.col("x") / F.col("n")).alias("m"),
        F.var_samp(F.col("x") / F.col("n")).alias("v"),
    )
    k = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    ab = prior.select(
        (k * F.col("m")).alias("alpha"), (k * (1 - F.col("m"))).alias("beta")
    )
    raw = F.col("x") / F.col("n")
    shrunk = (F.col("x") + F.col("alpha")) / (
        F.col("n") + F.col("alpha") + F.col("beta")
    )
    return (
        per_user.crossJoin(F.broadcast(ab))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            F.col("x").cast("bigint").alias("n_purchases"),
            F.round(raw, 6).alias("raw_rate"),
            F.round(shrunk, 6).alias("shrunk_rate"),
            F.round(F.abs(raw - shrunk), 6).alias("pull"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# t91: segment-level uplift (heterogeneous treatment effects)
# ---------------------------------------------------------------------------

_T91_SEGMENT = "BUILDING"  # the one segment the effect is planted on
_T91_LIFT = 0.5  # larger than t74's 20%: per-segment cells are ~1/5
# the volume, so the SE is ~sqrt(5) wider and a 20% effect would be
# honestly underpowered at the fixture's n (verified at bring-up)


@REGISTRY.register(
    name="t91_uplift_by_segment",
    survey_ref="§2.11 analytics extra (heterogeneous effects); t74 "
    "estimates ONE average effect — uplift modeling asks WHICH "
    "segment drives it, the question targeting decisions need",
    doc="t74's DiD estimator per market segment (events joined to the "
    f"customer dim on user_id): a {_T91_LIFT:.0%} treated-post lift is PLANTED "
    f"on the {_T91_SEGMENT} segment ONLY, so the per-segment table "
    "must localize it — at the driver's sf0.01 the planted segment "
    "is the UNIQUE significant positive DiD (did > 2·SE) and every "
    "other segment's CI covers zero (pinned by the hash; sf0.001's "
    "per-segment n is too small for significance — honest power, "
    "t80's lesson). Heterogeneity is the whole point: an "
    "average-effect readout would dilute the signal 5-to-1. "
    "One (segment, cell)-keyed partial agg after a broadcast dim "
    "join; 20 aggregate rows close closed-form.",
    oracle=f"""
        WITH cells AS (
            SELECT c.c_mktsegment AS segment,
                   e.user_id % 2 = 1 AS treated,
                   CAST(e.ts AS DATE) >= '{_T74_POST}' AS post,
                   CASE WHEN e.user_id % 2 = 1
                         AND CAST(e.ts AS DATE) >= '{_T74_POST}'
                         AND c.c_mktsegment = '{_T91_SEGMENT}'
                        THEN e.value * (1.0 + {_T91_LIFT})
                        ELSE e.value END AS y
            FROM events e JOIN customer c ON c.c_custkey = e.user_id
            WHERE e.value IS NOT NULL
        ), agg AS (
            SELECT segment, treated, post,
                   AVG(y) AS m, VAR_SAMP(y) AS v,
                   CAST(COUNT(*) AS DOUBLE) AS n
            FROM cells GROUP BY segment, treated, post
        ), wide AS (
            SELECT segment,
                MAX(CASE WHEN treated AND post THEN m END) AS t_post,
                MAX(CASE WHEN treated AND NOT post THEN m END) AS t_pre,
                MAX(CASE WHEN NOT treated AND post THEN m END) AS c_post,
                MAX(CASE WHEN NOT treated AND NOT post THEN m END) AS c_pre,
                SQRT(SUM(v / n)) AS se
            FROM agg GROUP BY segment
        )
        SELECT segment,
               ROUND((t_post - t_pre) - (c_post - c_pre), 4) AS did_estimate,
               ROUND(se, 4) AS did_se,
               (t_post - t_pre) - (c_post - c_pre) > 2.0 * se
                   AS significant_uplift,
               segment = '{_T91_SEGMENT}' AS effect_planted_here
        FROM wide ORDER BY segment
    """,
)
def t91_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    cust = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    treated = F.col("user_id") % 2 == 1
    post = F.col("ts").cast("date") >= F.lit(_T74_POST)
    joined = ev.join(F.broadcast(cust), "user_id")
    y = F.when(
        treated & post & (F.col("segment") == _T91_SEGMENT),
        F.col("value") * (1.0 + _T91_LIFT),
    ).otherwise(F.col("value"))
    cells = joined.select(
        "segment", treated.alias("treated"), post.alias("post"), y.alias("y")
    )
    agg = cells.groupBy("segment", "treated", "post").agg(
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
        F.count("*").cast("double").alias("n"),
    )

    def cell(t, p):
        cond = (F.col("treated") == t) & (F.col("post") == p)
        return F.max(F.when(cond, F.col("m")))

    wide = agg.groupBy("segment").agg(
        cell(True, True).alias("t_post"),
        cell(True, False).alias("t_pre"),
        cell(False, True).alias("c_post"),
        cell(False, False).alias("c_pre"),
        F.sqrt(F.sum(F.col("v") / F.col("n"))).alias("se"),
    )
    did = (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))
    return wide.select(
        "segment",
        F.round(did, 4).alias("did_estimate"),
        F.round("se", 4).alias("did_se"),
        (did > 2.0 * F.col("se")).alias("significant_uplift"),
        (F.col("segment") == _T91_SEGMENT).alias("effect_planted_here"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# t92: gains / lift chart (the targeting readout of the eval suite)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t92_lift_chart",
    survey_ref="training-data (model eval: targeting); completes the "
    "eval suite — t47 thresholds, t64 calibration, t65 ranking, "
    "this answers 'how much of the outcome do the top-scored X% "
    "capture', the campaign-sizing question",
    doc="cumulative gains and lift by score decile: events rank by the "
    "value score, deciles come from the NINE exact percentile "
    "boundaries broadcast back (u20's no-total-order discipline — "
    "NTILE would rangepartition-funnel the corpus), and per decile "
    "the captured positives accumulate top-down into gain (% of all "
    "positives) and lift (gain / % of population). Decile 1 = "
    "highest scores. The fixture's raw value score is "
    "NON-discriminative (flat lift ≈ 1.0 — itself the honest 'this "
    "feature is useless' readout), so a dominant +1000 margin is PLANTED on "
    "positives to pin the canonical early-lift-decaying-to-1 shape "
    "under the hash (t74's planted-truth convention). Map-side "
    "bucket assignment + one 10-key partial agg + windows over the "
    "10-row decile table.",
    oracle="""
        WITH labeled AS (
            SELECT value
                   + CASE WHEN event_type IN ('click', 'purchase', 'signup')
                          THEN 1000.0 ELSE 0.0 END AS score,
                   CASE WHEN event_type IN ('click', 'purchase', 'signup')
                        THEN 1.0 ELSE 0.0 END AS pos
            FROM events WHERE value IS NOT NULL
        ), b AS (
            SELECT QUANTILE_CONT(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                         0.6, 0.7, 0.8, 0.9]) AS bs
            FROM labeled
        ), assigned AS (
            SELECT 10 - LEN(LIST_FILTER(b.bs, x -> x < l.score)) AS decile,
                   l.pos
            FROM labeled l CROSS JOIN b
        ), per_dec AS (
            SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(pos) AS npos
            FROM assigned GROUP BY decile
        ), tot AS (
            SELECT SUM(n) AS nt, SUM(npos) AS pt FROM per_dec
        )
        SELECT CAST(d.decile AS INT) AS decile, d.n,
               CAST(d.npos AS BIGINT) AS n_pos,
               ROUND(SUM(d.npos) OVER (ORDER BY d.decile
                     ROWS UNBOUNDED PRECEDING) / t.pt, 6) AS cum_gain,
               ROUND((SUM(d.npos) OVER (ORDER BY d.decile
                      ROWS UNBOUNDED PRECEDING) / t.pt)
                     / (SUM(d.n) OVER (ORDER BY d.decile
                        ROWS UNBOUNDED PRECEDING) / t.nt), 6) AS cum_lift
        FROM per_dec d CROSS JOIN tot t
        ORDER BY decile
    """,
)
def t92_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    pos = F.expr(f"CAST({_INTENT} AS DOUBLE)")
    labeled = ev.select(
        (F.col("value") + 1000.0 * pos).alias("score"), pos.alias("pos")
    )
    cuts = [i / 10 for i in range(1, 10)]
    b = labeled.agg(
        F.percentile("score", F.array(*[F.lit(c) for c in cuts])).alias("bs")
    )
    assigned = labeled.crossJoin(F.broadcast(b)).select(
        (
            10 - F.size(F.filter(F.col("bs"), lambda x: x < F.col("score")))
        ).alias("decile"),
        "pos",
    )
    per_dec = assigned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n"), F.sum("pos").alias("npos")
    )
    tot = per_dec.agg(F.sum("n").alias("nt"), F.sum("npos").alias("pt"))
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        per_dec.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n",
            F.col("npos").cast("bigint").alias("n_pos"),
            F.round(F.sum("npos").over(w) / F.col("pt"), 6).alias("cum_gain"),
            F.round(
                (F.sum("npos").over(w) / F.col("pt"))
                / (F.sum("n").over(w) / F.col("nt")),
                6,
            ).alias("cum_lift"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# t94: always-valid sequential test (mSPRT — the peeking-safe A/B readout)
# ---------------------------------------------------------------------------

_T94_TAU2 = 25.0  # mixture prior variance on the effect
_T94_ALPHA = 0.05


@REGISTRY.register(
    name="t94_msprt_sequential",
    survey_ref="§2.11 analytics extra (sequential experimentation); "
    "t27's fixed-horizon z-test is INVALID under daily peeking — "
    "the mixture SPRT's always-valid p-value is what lets a team "
    "look every day and still control error",
    doc="mixture sequential probability ratio test over the running "
    "daily experiment: per day, the cumulative two-sample mean "
    "difference and its variance feed the normal-mixture likelihood "
    f"ratio Λ (prior τ²={_T94_TAU2}), and the always-valid p-value "
    "is 1/(running max Λ) — valid at EVERY look simultaneously. Two "
    "scenarios side by side: 'null' (no effect — p must stay above "
    f"{_T94_ALPHA} on every day, pinned) and 'planted' (t74's 20% "
    "treated lift — the test stops mid-corpus; stopped_by_today "
    "marks the first crossing). THE modern replacement for the "
    "fixed-horizon test a dashboard silently invalidates by daily "
    "peeking. Day-keyed partials (sums, sumsq, counts per arm) "
    "cumulate over the calendar-bounded day table.",
    oracle=f"""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day, s.scenario,
                   user_id % 2 = 1 AS treated,
                   CASE WHEN s.scenario = 'planted' AND user_id % 2 = 1
                        THEN value * 1.2 ELSE value END AS y
            FROM events
            CROSS JOIN (SELECT UNNEST(['null', 'planted']) AS scenario) s
            WHERE value IS NOT NULL
        ), cum AS (
            SELECT scenario, day,
                   SUM(SUM(CASE WHEN treated THEN y END))
                       OVER w AS s_t,
                   SUM(SUM(CASE WHEN treated THEN y * y END)) OVER w AS q_t,
                   SUM(COUNT(CASE WHEN treated THEN 1 END)) OVER w AS n_t,
                   SUM(SUM(CASE WHEN NOT treated THEN y END)) OVER w AS s_c,
                   SUM(SUM(CASE WHEN NOT treated THEN y * y END))
                       OVER w AS q_c,
                   SUM(COUNT(CASE WHEN NOT treated THEN 1 END)) OVER w AS n_c
            FROM daily GROUP BY scenario, day
            WINDOW w AS (PARTITION BY scenario ORDER BY day
                         ROWS UNBOUNDED PRECEDING)
        ), stats AS (
            SELECT scenario, day,
                   s_t / n_t - s_c / n_c AS delta,
                   (q_t / n_t - (s_t / n_t) * (s_t / n_t)) / n_t
                 + (q_c / n_c - (s_c / n_c) * (s_c / n_c)) / n_c AS v
            FROM cum
        ), lr AS (
            SELECT scenario, day, delta, v,
                   0.5 * LN(v / (v + {_T94_TAU2}))
                 + delta * delta * {_T94_TAU2}
                   / (2.0 * v * (v + {_T94_TAU2})) AS log_lambda
            FROM stats
        ), run AS (
            SELECT scenario, day, delta, v,
                   MAX(log_lambda) OVER (PARTITION BY scenario ORDER BY day
                                         ROWS UNBOUNDED PRECEDING)
                       AS max_ll
            FROM lr
        )
        SELECT scenario, CAST(day AS VARCHAR) AS day,
               ROUND(delta, 4) AS mean_diff,
               ROUND(LEAST(1.0, EXP(-max_ll)), 6) AS always_valid_p,
               LEAST(1.0, EXP(-max_ll)) < {_T94_ALPHA} AS stopped_by_today
        FROM run ORDER BY scenario, day
    """,
)
def t94_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    scen = ev.sparkSession.createDataFrame(
        [("null",), ("planted",)], "scenario string"
    )
    treated = F.col("user_id") % 2 == 1
    y = F.when(
        (F.col("scenario") == "planted") & treated, F.col("value") * 1.2
    ).otherwise(F.col("value"))
    daily = ev.crossJoin(F.broadcast(scen)).select(
        F.col("ts").cast("date").alias("day"),
        "scenario",
        treated.alias("treated"),
        y.alias("y"),
    )
    per_day = daily.groupBy("scenario", "day").agg(
        F.sum(F.when(F.col("treated"), F.col("y"))).alias("ds_t"),
        F.sum(F.when(F.col("treated"), F.col("y") * F.col("y"))).alias("dq_t"),
        F.count(F.when(F.col("treated"), 1)).alias("dn_t"),
        F.sum(F.when(~F.col("treated"), F.col("y"))).alias("ds_c"),
        F.sum(F.when(~F.col("treated"), F.col("y") * F.col("y"))).alias("dq_c"),
        F.count(F.when(~F.col("treated"), 1)).alias("dn_c"),
    )
    w = (
        W.partitionBy("scenario")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = per_day.select(
        "scenario",
        "day",
        F.sum("ds_t").over(w).alias("s_t"),
        F.sum("dq_t").over(w).alias("q_t"),
        F.sum("dn_t").over(w).alias("n_t"),
        F.sum("ds_c").over(w).alias("s_c"),
        F.sum("dq_c").over(w).alias("q_c"),
        F.sum("dn_c").over(w).alias("n_c"),
    )
    mt = F.col("s_t") / F.col("n_t")
    mc = F.col("s_c") / F.col("n_c")
    stats = cum.select(
        "scenario",
        "day",
        (mt - mc).alias("delta"),
        (
            (F.col("q_t") / F.col("n_t") - mt * mt) / F.col("n_t")
            + (F.col("q_c") / F.col("n_c") - mc * mc) / F.col("n_c")
        ).alias("v"),
    )
    log_lambda = 0.5 * F.log(F.col("v") / (F.col("v") + _T94_TAU2)) + F.col(
        "delta"
    ) * F.col("delta") * _T94_TAU2 / (
        2.0 * F.col("v") * (F.col("v") + _T94_TAU2)
    )
    run = stats.select(
        "scenario",
        "day",
        "delta",
        F.max(log_lambda)
        .over(W.partitionBy("scenario").orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .alias("max_ll"),
    )
    p = F.least(F.lit(1.0), F.exp(-F.col("max_ll")))
    return run.select(
        "scenario",
        F.col("day").cast("string").alias("day"),
        F.round("delta", 4).alias("mean_diff"),
        F.round(p, 6).alias("always_valid_p"),
        (p < _T94_ALPHA).alias("stopped_by_today"),
    ).orderBy("scenario", "day")


# ---------------------------------------------------------------------------
# t112: pass@k — the unbiased estimator over per-task sample pools
# ---------------------------------------------------------------------------

_PAK_KS = (1, 5, 10)
_PAK_THRESH = 100.0  # 'correct' = value >= this (~13% of events)


def _pak_product_sql(k: int) -> str:
    """Π_{i=0..k-1} (n-c-i)/(n-i) as an explicit SQL product — the
    C(n-c,k)/C(n,k) ratio without factorials (every factor <= 1, no
    overflow, exact same float op order on both engines)."""
    return " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / (n - {i}))" for i in range(k)
    )


@REGISTRY.register(
    name="t112_pass_at_k",
    survey_ref="training-data (eval statistics: the pass@k unbiased "
    "estimator, Chen et al. 2021 'Evaluating LLMs Trained on Code' — "
    "THE metric for best-of-n sampling evals; t110's bootstrap gives "
    "the error bars, this gives the point metric)",
    doc=f"pass@k for k in {_PAK_KS} over per-task sample pools: task "
    "= user, samples = the user's events, correct = value >= "
    f"{_PAK_THRESH} (~13% rate — discriminative across the three k). "
    "Per task the UNBIASED estimator pass@k = 1 - C(n-c,k)/C(n,k), "
    "computed as the explicit k-factor product (never factorials: "
    "every factor <= 1 so no overflow, and the fixed multiplication "
    "order is IEEE-identical on both engines); tasks with n < k are "
    "excluded (the estimator is undefined), tasks with n-c < k pass "
    "with certainty. Output: one row per k (k, n_tasks, "
    "mean_pass_at_k — macro average over eligible tasks, per-task "
    "values rounded 6 before the mean). Scale: ONE user-keyed "
    "count/sum aggregate over the corpus (map-side partials), then "
    "three 1-row aggregates over the task table — the task table is "
    "corpus-scaled but each k-pass is a linear agg; nothing "
    "quadratic, no windows.",
    oracle=f"""
        WITH tc AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN value >= {_PAK_THRESH} THEN 1 ELSE 0 END)
                        AS BIGINT) AS c
            FROM events GROUP BY user_id
        )
        SELECT k, n_tasks, mean_pass_at_k FROM (
            {" UNION ALL ".join(f'''
            SELECT CAST({k} AS BIGINT) AS k,
                   CAST(COUNT(*) AS BIGINT) AS n_tasks,
                   COALESCE(ROUND(AVG(ROUND(
                       CASE WHEN n - c < {k} THEN 1.0
                            ELSE 1.0 - {_pak_product_sql(k)} END, 6)) + 0.0, 6),
                       0.0) AS mean_pass_at_k
            FROM tc WHERE n >= {k}''' for k in _PAK_KS)}
        )
        ORDER BY k
    """,
)
def t112_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    tc = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("value") >= _PAK_THRESH, 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    ).transform(persist_once)

    def for_k(k: int) -> DataFrame:
        prod = None
        for i in range(k):
            f = (F.col("n") - F.col("c") - F.lit(i)).cast("double") / (
                F.col("n") - F.lit(i)
            )
            prod = f if prod is None else prod * f
        per_task = F.round(
            F.when(F.col("n") - F.col("c") < k, F.lit(1.0)).otherwise(1.0 - prod), 6
        )
        return (
            tc.filter(F.col("n") >= k)
            .agg(
                F.count("*").cast("bigint").alias("n_tasks"),
                F.coalesce(
                    F.round(F.avg(per_task) + 0.0, 6), F.lit(0.0)
                ).alias("mean_pass_at_k"),
            )
            .select(
                F.lit(k).cast("bigint").alias("k"), "n_tasks", "mean_pass_at_k"
            )
        )

    out = for_k(_PAK_KS[0])
    for k in _PAK_KS[1:]:
        out = out.unionAll(for_k(k))
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# t113: exact two-sample Kolmogorov–Smirnov drift test
# ---------------------------------------------------------------------------

_KS_CRIT = 1.358  # c(alpha) at alpha = 0.05, two-sided
_KS_BUCKET = 1.0  # value units per ECDF bucket (range-bounded, not corpus)


@REGISTRY.register(
    name="t113_ks_test",
    survey_ref="§2.11 analytics extra (distribution drift): the EXACT "
    "nonparametric member beside t84's binned PSI and t70's JSD — KS "
    "needs no bin edges, so it catches shifts PSI's frozen deciles "
    "can smear",
    doc="exact two-sample Kolmogorov–Smirnov test of the value "
    f"distribution per event_type, reference (< {_T84_SPLIT}) vs "
    f"comparison (>= {_T84_SPLIT}, t84's split), with t84's planted "
    "2x scale shift on the error type so the positive case is real: "
    "D = max |ECDF_ref - ECDF_cmp| over every distinct observed "
    f"value, critical value {_KS_CRIT}*sqrt((n+m)/(n*m)) at "
    "alpha=0.05. The ECDFs are EXACT (no sampling, no binning): "
    "cumulative per-value counts computed bucket-major — windows "
    f"partitioned by (type, floor(value/{_KS_BUCKET})) cumsum within "
    "buckets in parallel, bucket totals cumsum into offsets over the "
    "range-bounded (type x ~500)-row bucket table and broadcast "
    "back — bit-identical to the oracle's one-window spelling "
    "because value order IS (bucket, value) order (u9/u11's "
    "prefix-sum argument; bucket width comes from the value DOMAIN, "
    "not the corpus, so the offset table never scales with data). "
    "D's candidates are single-expression integer ratios — identical "
    "IEEE ops both engines, so even the unrounded drift verdict "
    "hash-matches. Output per type: (event_type, n_ref, n_cmp, ks_d, "
    "ks_crit, drifted).",
    oracle=f"""
        WITH u AS (
            SELECT event_type, value, 1 AS r, 0 AS c FROM events
            WHERE value IS NOT NULL AND CAST(ts AS DATE) < '{_T84_SPLIT}'
            UNION ALL
            SELECT event_type,
                   CASE WHEN event_type = 'error' THEN value * 2.0
                        ELSE value END AS value,
                   0, 1
            FROM events
            WHERE value IS NOT NULL AND CAST(ts AS DATE) >= '{_T84_SPLIT}'
        ), pv AS (
            SELECT event_type, value,
                   CAST(SUM(r) AS BIGINT) AS cr, CAST(SUM(c) AS BIGINT) AS cc
            FROM u GROUP BY event_type, value
        ), cum AS (
            SELECT event_type, value,
                   SUM(cr) OVER (PARTITION BY event_type ORDER BY value) AS ar,
                   SUM(cc) OVER (PARTITION BY event_type ORDER BY value) AS ac
            FROM pv
        ), n AS (
            SELECT event_type,
                   CAST(SUM(cr) AS BIGINT) AS nr, CAST(SUM(cc) AS BIGINT) AS nc
            FROM pv GROUP BY event_type
        ), d AS (
            SELECT c.event_type,
                   MAX(ABS(CAST(c.ar AS DOUBLE) / n.nr
                           - CAST(c.ac AS DOUBLE) / n.nc)) AS d
            FROM cum c JOIN n ON n.event_type = c.event_type
            GROUP BY c.event_type
        )
        SELECT n.event_type, n.nr AS n_ref, n.nc AS n_cmp,
               ROUND(d.d + 0.0, 6) AS ks_d,
               ROUND({_KS_CRIT} * SQRT(CAST(n.nr + n.nc AS DOUBLE)
                     / (CAST(n.nr AS DOUBLE) * n.nc)), 6) AS ks_crit,
               d.d > {_KS_CRIT} * SQRT(CAST(n.nr + n.nc AS DOUBLE)
                     / (CAST(n.nr AS DOUBLE) * n.nc)) AS drifted
        FROM n JOIN d ON d.event_type = n.event_type
    """,
)
def t113_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ks_test(drift_sides(load_table(spark, "events", sf_dir)))


def ks_test(sides: DataFrame) -> DataFrame:
    """t113's per-type KS rows over drift_sides' frame."""
    pv = (
        sides.groupBy("event_type", "value")
        .agg(F.expr("CAST(sum(r) AS BIGINT) AS cr"), F.expr("CAST(sum(1 - r) AS BIGINT) AS cc"))
        .withColumn("bucket", F.expr(f"floor(value / {_KS_BUCKET}D)"))
        .transform(persist_once)
    )
    # phase 1: within-bucket cumulative counts (parallel windows)
    w_in = (
        "OVER (PARTITION BY event_type, bucket ORDER BY value"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    within = pv.selectExpr(
        "event_type", "value", "bucket", f"sum(cr) {w_in} AS ar_in", f"sum(cc) {w_in} AS ac_in"
    )
    # phase 2: bucket offsets — the bucket table is value-RANGE-sized
    # (domain-bounded), never corpus-sized; its window is per type
    btot = pv.groupBy("event_type", "bucket").agg(
        F.sum("cr").alias("tr"), F.sum("cc").alias("tc")
    )
    # r13 (guide §2.4): the per-type totals nr/nc share the offsets
    # window's partition+order spec (only the frame differs —
    # unbounded both ways), so ONE WindowExec emits offsets AND
    # totals and the former third pass over the distinct-value table
    # (n = pv.groupBy(type)) plus its broadcast branch and the final
    # n⋈d assembly join are gone: Σ tr per type ≡ Σ cr (integer sums,
    # order-free), and nr/nc ride the broadcast rows into the
    # d-aggregation as per-type constants (max of a constant).
    w_off = "OVER (PARTITION BY event_type ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND {})"
    offs = btot.selectExpr(
        "event_type",
        "bucket",
        f"coalesce(sum(tr) {w_off.format('1 PRECEDING')}, 0) AS ar_off",
        f"coalesce(sum(tc) {w_off.format('1 PRECEDING')}, 0) AS ac_off",
        f"CAST(sum(tr) {w_off.format('UNBOUNDED FOLLOWING')} AS BIGINT) AS nr",
        f"CAST(sum(tc) {w_off.format('UNBOUNDED FOLLOWING')} AS BIGINT) AS nc",
    )
    d = (
        within.join(F.broadcast(offs), ["event_type", "bucket"])
        .selectExpr("ar_off + ar_in AS ar", "ac_off + ac_in AS ac", "event_type", "nr", "nc")
        .groupBy("event_type")
        .agg(
            F.expr("max(abs(CAST(ar AS DOUBLE) / nr - CAST(ac AS DOUBLE) / nc)) AS d"),
            F.max("nr").alias("nr"),
            F.max("nc").alias("nc"),
        )
    )
    crit = f"{_KS_CRIT}D * sqrt(CAST(nr + nc AS DOUBLE) / (CAST(nr AS DOUBLE) * nc))"
    return d.selectExpr(
        "event_type",
        "nr AS n_ref",
        "nc AS n_cmp",
        "round(d + 0.0D, 6) AS ks_d",
        f"round({crit}, 6) AS ks_crit",
        f"d > {crit} AS drifted",
    )


# ---------------------------------------------------------------------------
# pipeline_drift_card: the distribution-drift governance card
# ---------------------------------------------------------------------------


def _drift_card_oracle() -> str:
    """Composes the four drift detectors' registered SQL verbatim
    (the pipeline_graph_quality / pipeline_eval_card discipline), so
    the card can never desync from its parts."""
    from ai_iceberg_demo_spark.functions import text as _text
    from ai_iceberg_demo_spark.vector import clustering as _clu

    t84 = REGISTRY.specs["t84_psi_drift"].oracle
    t113 = REGISTRY.specs["t113_ks_test"].oracle
    t70 = _text.REGISTRY.specs["t70_js_divergence"].oracle
    v16 = _clu.REGISTRY.specs["v16_embedding_drift"].oracle
    return f"""
        SELECT family, metric, value FROM (
            SELECT 'psi' AS family, 'n_types' AS metric,
                   CAST(COUNT(*) AS DOUBLE) AS value FROM ({t84})
            UNION ALL
            SELECT 'psi', 'n_act',
                   CAST(SUM(CASE WHEN verdict = 'act' THEN 1 ELSE 0 END) AS DOUBLE)
            FROM ({t84})
            UNION ALL
            SELECT 'psi', 'max_psi', ROUND(MAX(psi) + 0.0, 6) FROM ({t84})
            UNION ALL
            SELECT 'jsd', 'n_pairs', CAST(COUNT(*) AS DOUBLE) FROM ({t70})
            UNION ALL
            SELECT 'jsd', 'max_jsd_normalized',
                   ROUND(MAX(jsd_normalized) + 0.0, 6) FROM ({t70})
            UNION ALL
            SELECT 'ks', 'n_types', CAST(COUNT(*) AS DOUBLE) FROM ({t113})
            UNION ALL
            SELECT 'ks', 'n_drifted',
                   CAST(SUM(CASE WHEN drifted THEN 1 ELSE 0 END) AS DOUBLE)
            FROM ({t113})
            UNION ALL
            SELECT 'ks', 'max_ks_d', ROUND(MAX(ks_d) + 0.0, 6) FROM ({t113})
            UNION ALL
            SELECT 'embedding', 'n_dims', CAST(COUNT(*) AS DOUBLE) FROM ({v16})
            UNION ALL
            SELECT 'embedding', 'n_drifted', CAST(SUM(drifted) AS DOUBLE)
            FROM ({v16})
            UNION ALL
            SELECT 'embedding', 'max_abs_z', ROUND(MAX(ABS(z)) + 0.0, 6)
            FROM ({v16})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_drift_card",
    bench=True,  # r11 verdict #6: second-heaviest never-floored plan
    survey_ref="training-data (composed: t84 + t70 + t113 + v16 — the "
    "distribution-drift governance card; the family is now complete "
    "across binned/divergence/exact-nonparametric/embedding views, so "
    "the card is the one report a data lead reads before accepting a "
    "new corpus snapshot)",
    doc="the drift report in ONE long-format table (family, metric, "
    "value): PSI type count / act count / max (t84, frozen-decile "
    "binned), pairwise source JSD pair count / max (t70), exact KS "
    "type count / drifted count / max D (t113), and per-dimension "
    "embedding z-drift dim count / drifted count / max |z| (v16) — "
    "four detectors with four blind spots covering each other "
    "(PSI's frozen bins smear shape changes KS catches; KS is "
    "univariate where v16 sees the embedding space; JSD compares "
    "SOURCES where the others compare TIME). Oracle composes the "
    "four parts' registered SQL verbatim; the Spark side builds t84's "
    "and t113's side-tagged events frame once (drift_sides), hands it "
    "to both builders, runs t70 and v16 through their documents and "
    "embeddings builders, and reduces each part to its 1-row summary "
    "— every part is already linear, so the card costs four summary "
    "aggs.",
    oracle=_drift_card_oracle(),
)
def pipeline_drift_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import js_divergence
    from ai_iceberg_demo_spark.vector.clustering import embedding_drift

    sides = drift_sides(load_table(spark, "events", sf_dir))
    psi = psi_drift(sides).selectExpr(
        "CAST(count(*) AS DOUBLE) AS n_types",
        "CAST(sum(CASE WHEN verdict = 'act' THEN 1 ELSE 0 END) AS DOUBLE) AS n_act",
        "round(max(psi) + 0.0D, 6) AS max_psi",
    )
    jsd = js_divergence(load_table(spark, "documents", sf_dir)).selectExpr(
        "CAST(count(*) AS DOUBLE) AS n_pairs",
        "round(max(jsd_normalized) + 0.0D, 6) AS max_jsd_normalized",
    )
    ks = ks_test(sides).selectExpr(
        "CAST(count(*) AS DOUBLE) AS n_types",
        "CAST(sum(CASE WHEN drifted THEN 1 ELSE 0 END) AS DOUBLE) AS n_drifted",
        "round(max(ks_d) + 0.0D, 6) AS max_ks_d",
    )
    emb = embedding_drift(load_table(spark, "embeddings", sf_dir)).selectExpr(
        "CAST(count(*) AS DOUBLE) AS n_dims",
        "CAST(sum(drifted) AS DOUBLE) AS n_drifted",
        "round(max(abs(z)) + 0.0D, 6) AS max_abs_z",
    )
    out = (
        long_metrics(psi, "psi", ["n_types", "n_act", "max_psi"])
        .unionAll(long_metrics(jsd, "jsd", ["n_pairs", "max_jsd_normalized"]))
        .unionAll(long_metrics(ks, "ks", ["n_types", "n_drifted", "max_ks_d"]))
        .unionAll(long_metrics(emb, "embedding", ["n_dims", "n_drifted", "max_abs_z"]))
    )
    return out.orderBy("family", "metric")
