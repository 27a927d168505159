"""Incremental corpus curation — the daily-ingest funnel under
Structured Streaming.

A 100 TB corpus is not curated once; it GROWS. Each day's crawl batch
must be (a) language/quality-filtered, (b) deduplicated against
everything already ingested — without ever re-pairing the existing
corpus with itself — and (c) appended to the curated store together
with the signatures future batches will probe. That is
d7_incremental_dedup's O(new)-per-ingest contract composed with
pipeline_curation's funnel, run here as a ``foreachBatch`` sink so the
whole lifecycle is driven by Structured Streaming (file source in this
sandbox; Kafka on a cluster — same sink body either way).

Reference analog: the interactive research workflow's persistent
accumulate-and-resume lifecycle
(``/root/reference/openai_agents/workflows/interactive_research_workflow.py:254-318``)
— state survives across activations and each new activation only pays
for the new work.

Per micro-batch (all O(batch), never O(corpus)):

1. ``curate()`` the batch (langid + quality floor + canonical-per-
   fingerprint within the batch — pipeline_curation's exact rule);
2. anti-join the batch's fingerprints against the PERSISTED signature
   table: already-ingested content is dropped (first-arrival wins;
   with id-ascending arrival this equals the batch-mode min-doc_id
   rule, which is what the oracle checks);
3. append survivors to the curated store and their fingerprints to
   the signature table;
4. d7's near-dup audit: MinHash-band the survivors' 1-in-10 index
   sample, probe the PERSISTED band index (plus same-batch smaller
   ids) for collisions, append the links, then append the new bands
   to the index.

At 100 TB every state table here is an Iceberg table partitioned by
its probe key (fp-bucket / (band_idx, band_val-bucket)); the probes
are equi-joins that touch only the new batch's partitions. Locally
they are parquet directories — same plan shape.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.pipeline.curation import curate, curate_oracle_sql
from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, persist_once
from ai_iceberg_demo_spark.vector.dedup import minhash_bands

REGISTRY = Registry()

# state-table subdirectories under a run's state_dir
CURATED = "curated"
SIGNATURES = "signatures"
BAND_INDEX = "band_index"
NEAR_DUP_LINKS = "near_dup_links"


def _read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a state table, or None before its first append."""
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — [PATH_NOT_FOUND] on first batch
        return None


def stage_batch_files(
    state_dir: str, batches: list[DataFrame], start_idx: int = 0
) -> str:
    """Write each batch DataFrame as ONE parquet file under
    ``state_dir/incoming`` with ascending mtimes so a file source
    (sorted by modification time, maxFilesPerTrigger=1) replays them in
    arrival order. ``start_idx`` lets a restart test append later
    arrivals to an ingest directory that already holds processed files.
    Returns the ingest directory."""
    ingest = os.path.join(state_dir, "incoming")
    os.makedirs(ingest, exist_ok=True)
    t0 = time.time() - 600
    for j, b in enumerate(batches):
        i = start_idx + j
        stage = os.path.join(state_dir, f"_stage{i}")
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        dst = os.path.join(ingest, f"batch_{i}.parquet")
        shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))
        shutil.rmtree(stage)
    return ingest


def curation_batch_sink(state_dir: str):
    """The incremental-curation ``foreachBatch`` body as a standalone
    callable — exposed so the checkpoint-recovery test can replay a
    committed batch directly (simulating a sink retry whose checkpoint
    commit was lost mid-run) and assert the state tables don't change.

    The sink is idempotent-per-content across retries of the same
    arrivals (signature anti-join drops replayed fingerprints) and
    every step is bounded by the batch size: the corpus-side tables
    are only ever probed by equi-join, never self-joined.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_curated = curate(batch_df.select("doc_id", "text"))
        seen = _read_state(spark, os.path.join(state_dir, SIGNATURES))
        fresh = (
            batch_curated
            if seen is None
            else batch_curated.join(seen, "fp", "left_anti")
        )
        # fresh feeds four consumers (curated append, signature append,
        # band sample, link probe) AND its lineage READS the signature
        # table this sink APPENDS to: any lazy re-evaluation after the
        # append would see the batch's own fingerprints and anti-join
        # itself to empty. localCheckpoint(eager) snapshots the
        # batch-sized survivors and CUTS that lineage before the first
        # write — the required pattern for every read-modify-write
        # cycle over the same state table (persist() alone is not
        # enough: a write does not reliably populate the cache, and an
        # evicted entry would recompute against post-append state).
        fresh = fresh.localCheckpoint(eager=True)
        fresh.write.mode("append").parquet(os.path.join(state_dir, CURATED))
        fresh.select("fp").write.mode("append").parquet(
            os.path.join(state_dir, SIGNATURES)
        )

        # d7's near-dup audit on the 1-in-10 indexed sample: probe the
        # EXISTING index (plus same-batch smaller ids) BEFORE appending
        # this batch's bands, so each link is priced exactly once
        sample = (
            batch_df.select("doc_id", "text")
            .join(fresh.select("doc_id"), "doc_id", "left_semi")
            .filter(F.col("doc_id") % 10 == 0)
        )
        new_bands = minhash_bands(sample).transform(persist_once)
        old_bands = _read_state(spark, os.path.join(state_dir, BAND_INDEX))
        probe_side = (
            new_bands if old_bands is None else old_bands.unionByName(new_bands)
        )
        links = (
            new_bands.alias("n")
            .join(
                probe_side.alias("c"),
                (F.col("n.band_idx") == F.col("c.band_idx"))
                & (F.col("n.band_val") == F.col("c.band_val"))
                & (F.col("c.doc_id") < F.col("n.doc_id")),
            )
            .select(
                F.col("n.doc_id").alias("new_id"),
                F.col("c.doc_id").alias("corpus_id"),
            )
            .distinct()
        )
        # write order matters for the SAME reason fresh is checkpointed:
        # links' lineage reads the band index, so links must hit disk
        # BEFORE the batch's bands append to it
        links.write.mode("append").parquet(os.path.join(state_dir, NEAR_DUP_LINKS))
        new_bands.write.mode("append").parquet(os.path.join(state_dir, BAND_INDEX))
        new_bands.unpersist()

    return sink


def incremental_curation_sink(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """Wire the incremental-curation ``foreachBatch`` body onto a
    (doc_id, text) stream; returns the DataStreamWriter (caller picks
    trigger and calls ``.start()``)."""
    return stream.writeStream.foreachBatch(curation_batch_sink(state_dir)).option(
        "checkpointLocation", checkpoint_dir
    )


def run_incremental_curation(
    spark: SparkSession, sf_dir: str, n_batches: int = 3, state_dir: str | None = None
) -> str:
    """Replay the documents fixture as ``n_batches`` id-ascending
    ingest files through the incremental sink; returns the state_dir
    holding the four state tables.

    The batches are contiguous doc_id ranges written as one parquet
    file each with ascending mtimes, so the file source (sorted by
    modification time, ``maxFilesPerTrigger=1``) replays them in
    arrival order — the determinism the stream≡batch oracle needs.
    """
    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="incremental_curation_")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    bounds = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    step = (hi - lo) // n_batches + 1
    ingest = stage_batch_files(
        state_dir,
        [
            docs.filter(
                (F.col("doc_id") >= lo + i * step)
                & (F.col("doc_id") < lo + (i + 1) * step)
            )
            for i in range(n_batches)
        ],
    )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ingest, "*.parquet"))
    )
    q = (
        incremental_curation_sink(stream, state_dir, os.path.join(state_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return state_dir


@REGISTRY.register(
    name="pipeline_incremental_curation",
    survey_ref="training-data (incremental funnel: d7 + curation under foreachBatch)",
    doc="the daily-ingest lifecycle end-to-end: the corpus arrives as 3 "
    "id-ascending micro-batches through a file-source stream; each "
    "batch is curated, anti-joined against the persisted fingerprint "
    "table, appended, and band-indexed (O(new) per ingest — the corpus "
    "never self-joins). The final curated store must equal one-shot "
    "batch curation over the whole corpus — THE stream≡batch contract "
    "for the funnel, hash-checked against the same DuckDB spelling "
    "pipeline_curation uses; tests/test_streaming.py additionally pins "
    "the near-dup link table against its batch twin.",
    oracle="WITH " + curate_oracle_sql("documents"),
)
def pipeline_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = run_incremental_curation(spark, sf_dir)
    return spark.read.parquet(os.path.join(state_dir, CURATED))


# ---------------------------------------------------------------------------
# t28: audit-gated streaming publish (WAP under foreachBatch)
# ---------------------------------------------------------------------------

PUBLISHED = "published"
QUARANTINE = "quarantine"
AUDIT_LOG = "audit_log"

_WAP_KNOWN_TYPES = ("view", "click", "purchase", "signup", "error")
_WAP_MAX_NULL_RATE = 0.01
_WAP_MAX_DRIFT = 0.15


def wap_gated_sink(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    known_types: tuple[str, ...] = _WAP_KNOWN_TYPES,
    max_null_rate: float = _WAP_MAX_NULL_RATE,
    max_drift: float = _WAP_MAX_DRIFT,
):
    """m10's write-audit-publish gate as a streaming sink: every
    micro-batch is audited (value null rate, event_type domain, mean
    drift vs the ALREADY-PUBLISHED store) before it may append to the
    published table; a failing batch lands in quarantine instead, and
    every check is logged to the audit table either way.

    The gate stats are two 1-row aggs (batch side + published side) —
    collecting one row to make a control-flow decision is the
    foreachBatch idiom, not a data move. The published store is never
    rescanned beyond its running mean (at scale: maintained as a
    (count, sum) accumulator table instead — same decision, O(1) read).
    The first batch has no history, so its drift check is skipped —
    bootstrap-trust, exactly like Iceberg's first snapshot."""
    return stream.writeStream.foreachBatch(
        wap_batch_sink(state_dir, known_types, max_null_rate, max_drift)
    ).option("checkpointLocation", checkpoint_dir)


def wap_batch_sink(
    state_dir: str,
    known_types: tuple[str, ...] = _WAP_KNOWN_TYPES,
    max_null_rate: float = _WAP_MAX_NULL_RATE,
    max_drift: float = _WAP_MAX_DRIFT,
):
    """The WAP foreachBatch body standalone — exposed so the
    retry-idempotence test can re-apply a committed batch_id and assert
    the partition overwrite replaces rather than doubles."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        st = batch_df.agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mean"),
            (
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("null_rate"),
            F.sum(
                F.when(~F.col("event_type").isin(*known_types), 1).otherwise(0)
            ).cast("double").alias("domain_violations"),
        ).first()
        published = _read_state(spark, os.path.join(state_dir, PUBLISHED))
        if published is not None:
            # a RETRY of this batch_id must not compare the batch
            # against history that includes its own prior write — drop
            # the current partition from the baseline, and treat a
            # baseline emptied that way as bootstrap (first-batch rule)
            published = published.filter(F.col("batch_id") != batch_id)
            if published.isEmpty():
                published = None
        checks = [
            ("null_rate", st["null_rate"], max_null_rate,
             st["null_rate"] <= max_null_rate),
            ("domain_violations", st["domain_violations"], 0.0,
             st["domain_violations"] <= 0),
        ]
        if published is not None:
            pub_mean = published.agg(F.avg("value")).first()[0]
            drift = abs(st["mean"] / pub_mean - 1)
            checks.append(("mean_drift", drift, max_drift, drift <= max_drift))
        ok_all = all(ok for _, _, _, ok in checks)
        audit = spark.createDataFrame(
            [(batch_id, name, round(obs, 6), thr, bool(ok), ok_all)
             for name, obs, thr, ok in checks],
            "batch_id long, check_name string, observed double, "
            "threshold double, ok boolean, published boolean",
        )
        # batch_id-partitioned DYNAMIC overwrite instead of blind append:
        # a foreachBatch retry whose checkpoint commit was lost re-runs
        # the same batch_id, and overwrite-by-partition REPLACES that
        # batch's rows instead of doubling them — the sink-side half of
        # exactly-once (the checkpoint restart test pins the source
        # half; test_wap_sink_retry_is_idempotent pins this one).
        audit.coalesce(1).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(os.path.join(state_dir, AUDIT_LOG))
        dest = PUBLISHED if ok_all else QUARANTINE
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(os.path.join(state_dir, dest))

    return sink


def run_wap_stream(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    dirty_batch: DataFrame | None = None,
) -> str:
    """Replay events as 3 id-keyed micro-batches (event_id%3 — the
    split the oracle unrolls) through the WAP gate in ascending batch
    order; optionally append a 4th planted-dirty batch (tests). Returns
    the state_dir with published/quarantine/audit_log tables."""
    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="wap_stream_")
    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "event_type", "value"
    )
    batches = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    if dirty_batch is not None:
        batches.append(dirty_batch)
    ingest = stage_batch_files(state_dir, batches)
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ingest, "*.parquet"))
    )
    q = (
        wap_gated_sink(stream, state_dir, os.path.join(state_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return state_dir


def _wap_batch_sql(i: int) -> str:
    return (
        f"SELECT event_type, value FROM events WHERE event_id % 3 = {i}"
    )


@REGISTRY.register(
    name="t28_streaming_wap",
    survey_ref="training-data (streaming write-audit-publish)",
    doc="m10's publish gate run as a live foreachBatch stream: events "
    "arrive as 3 id-keyed micro-batches; each batch's null-rate, "
    "domain, and mean-drift-vs-published checks are logged and decide "
    "publish vs quarantine. Output is the audit log — the oracle "
    "unrolls the same 3 fixed batches in SQL (drift of batch i "
    "against the union of published batches before it), which is "
    "exact because the gate is deterministic. tests pin that a "
    "planted dirty batch quarantines without poisoning the published "
    "store.",
    oracle=f"""
        WITH b0 AS ({_wap_batch_sql(0)}),
             b1 AS ({_wap_batch_sql(1)}),
             b2 AS ({_wap_batch_sql(2)}),
        s0 AS (SELECT AVG(value) AS mean,
                      COUNT(*) FILTER (WHERE value IS NULL)
                          / CAST(COUNT(*) AS DOUBLE) AS null_rate,
                      CAST(COUNT(*) FILTER (WHERE event_type NOT IN
                          {_WAP_KNOWN_TYPES!r}) AS DOUBLE) AS dv
               FROM b0),
        s1 AS (SELECT AVG(value) AS mean,
                      COUNT(*) FILTER (WHERE value IS NULL)
                          / CAST(COUNT(*) AS DOUBLE) AS null_rate,
                      CAST(COUNT(*) FILTER (WHERE event_type NOT IN
                          {_WAP_KNOWN_TYPES!r}) AS DOUBLE) AS dv
               FROM b1),
        s2 AS (SELECT AVG(value) AS mean,
                      COUNT(*) FILTER (WHERE value IS NULL)
                          / CAST(COUNT(*) AS DOUBLE) AS null_rate,
                      CAST(COUNT(*) FILTER (WHERE event_type NOT IN
                          {_WAP_KNOWN_TYPES!r}) AS DOUBLE) AS dv
               FROM b2),
        p1 AS (SELECT AVG(value) AS mean FROM b0),
        p2 AS (SELECT AVG(value) AS mean FROM (SELECT * FROM b0
                                               UNION ALL SELECT * FROM b1))
        SELECT * FROM (
          SELECT CAST(0 AS BIGINT) AS batch_id, 'null_rate' AS check_name,
                 ROUND(s0.null_rate, 6) AS observed,
                 {_WAP_MAX_NULL_RATE} AS threshold,
                 s0.null_rate <= {_WAP_MAX_NULL_RATE} AS ok FROM s0
          UNION ALL
          SELECT 0, 'domain_violations', s0.dv, 0.0, s0.dv <= 0 FROM s0
          UNION ALL
          SELECT 1, 'null_rate', ROUND(s1.null_rate, 6), {_WAP_MAX_NULL_RATE},
                 s1.null_rate <= {_WAP_MAX_NULL_RATE} FROM s1
          UNION ALL
          SELECT 1, 'domain_violations', s1.dv, 0.0, s1.dv <= 0 FROM s1
          UNION ALL
          SELECT 1, 'mean_drift', ROUND(ABS(s1.mean / p1.mean - 1), 6),
                 {_WAP_MAX_DRIFT}, ABS(s1.mean / p1.mean - 1) <= {_WAP_MAX_DRIFT}
          FROM s1, p1
          UNION ALL
          SELECT 2, 'null_rate', ROUND(s2.null_rate, 6), {_WAP_MAX_NULL_RATE},
                 s2.null_rate <= {_WAP_MAX_NULL_RATE} FROM s2
          UNION ALL
          SELECT 2, 'domain_violations', s2.dv, 0.0, s2.dv <= 0 FROM s2
          UNION ALL
          SELECT 2, 'mean_drift', ROUND(ABS(s2.mean / p2.mean - 1), 6),
                 {_WAP_MAX_DRIFT}, ABS(s2.mean / p2.mean - 1) <= {_WAP_MAX_DRIFT}
          FROM s2, p2
        ) t
    """,
)
def t28_streaming_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = run_wap_stream(spark, sf_dir)
    # batch_id comes back as a discovered partition column — cast it so
    # partition-type inference can never drift the contract schema
    return spark.read.parquet(os.path.join(state_dir, AUDIT_LOG)).select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "check_name", "observed", "threshold", "ok",
    )


# ---------------------------------------------------------------------------
# t36: streaming embedding-drift monitor (v16 under foreachBatch)
# ---------------------------------------------------------------------------

MOMENTS = "moments"
DRIFT_LOG = "drift_log"
_DRIFT_Z_STREAM = 3.0


def drift_gated_sink(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """v16's two-sample z drift gate run continuously: each micro-batch
    of embeddings is tested per-dimension against the ACCUMULATED
    moments of everything already ingested, the verdict appended to the
    drift log, and the batch's (n, Σx, Σx²) partials merged into the
    baseline. The baseline is a moments table — O(dim) rows however
    much history accumulates — so the stream never rescans old
    embeddings (the same accumulated-partials trick the WAP gate uses
    for its running mean). Write order: log BEFORE moments append
    (the read-modify-write discipline every sink here follows). First
    batch bootstraps the baseline with no check, like t28."""
    return stream.writeStream.foreachBatch(drift_batch_sink(state_dir)).option(
        "checkpointLocation", checkpoint_dir
    )


def drift_batch_sink(state_dir: str):
    """t36's foreachBatch body standalone (retry-idempotence tests)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ai_iceberg_demo_spark.vector.similarity import as_double

        spark = batch_df.sparkSession
        dims = batch_df.select(
            F.posexplode(as_double("embedding")).alias("dim_i", "x")
        )
        partials = dims.groupBy("dim_i").agg(
            F.count("*").cast("double").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
        )
        base = _read_state(spark, os.path.join(state_dir, MOMENTS))
        if base is not None:
            # retry hygiene (the WAP rule): this batch's own prior
            # partials must not sit in its baseline
            base = base.filter(F.col("batch_id") != batch_id)
            if base.isEmpty():
                base = None
        if base is not None:
            acc = base.groupBy("dim_i").agg(
                F.sum("n").alias("n_a"), F.sum("s").alias("s_a"), F.sum("s2").alias("s2_a")
            )
            mean_a = F.round(F.col("s_a") / F.col("n_a"), 6)
            var_a = F.round(
                F.col("s2_a") / F.col("n_a") - (F.col("s_a") / F.col("n_a")) * (F.col("s_a") / F.col("n_a")),
                6,
            )
            mean_b = F.round(F.col("s") / F.col("n"), 6)
            var_b = F.round(
                F.col("s2") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")),
                6,
            )
            z = F.round(
                (mean_b - mean_a) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n")), 4
            )
            verdict = (
                acc.join(partials, "dim_i")
                .select(F.abs(z).alias("az"))
                .agg(
                    F.count("*").cast("bigint").alias("n_dims"),
                    F.sum(F.when(F.col("az") >= _DRIFT_Z_STREAM, 1).otherwise(0))
                    .cast("bigint")
                    .alias("n_drifted"),
                    F.max("az").alias("max_abs_z"),
                )
                .select(
                    F.lit(batch_id).cast("long").alias("batch_id"),
                    "n_dims",
                    "n_drifted",
                    "max_abs_z",
                    (F.col("n_drifted") > 0).alias("alarm"),
                )
            )
            verdict.coalesce(1).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("batch_id").parquet(os.path.join(state_dir, DRIFT_LOG))
        # moments partials carry batch_id too: a sink retry REPLACES its
        # own partials instead of double-counting them in the baseline
        partials.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(os.path.join(state_dir, MOMENTS))

    return sink


def run_drift_stream(
    spark: SparkSession, sf_dir: str, state_dir: str | None = None
) -> str:
    """Replay embeddings as 3 id-keyed micro-batches (vec_id%3) with a
    PLANTED +0.5 shift on dimension 0 of batch 2 — the provable-alarm
    salting every monitor here carries. Returns the state_dir."""
    if state_dir is None:
        state_dir = tempfile.mkdtemp(prefix="drift_stream_")
    from ai_iceberg_demo_spark.vector.similarity import as_double

    # all batches staged as array<double>: the +0.5 shift promotes
    # float->double, and a mixed-type file set would break the fixed
    # stream schema; double everywhere also makes the arithmetic
    # bit-identical to the oracle's CAST(... AS DOUBLE) spelling
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", as_double("embedding").alias("embedding")
    )
    shifted = F.transform(
        F.col("embedding"), lambda x, i: F.when(i == 0, x + F.lit(0.5)).otherwise(x)
    )
    batches = [
        emb.filter(F.col("vec_id") % 3 == i).select(
            "vec_id",
            (shifted if i == 2 else F.col("embedding")).alias("embedding"),
        )
        for i in range(3)
    ]
    ingest = stage_batch_files(state_dir, batches)
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ingest, "*.parquet"))
    )
    q = (
        drift_gated_sink(stream, state_dir, os.path.join(state_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return state_dir


def _drift_batch_moments_sql(pred: str, shift: bool) -> str:
    vec = (
        "LIST_TRANSFORM(CAST(embedding AS DOUBLE[]), x -> x)"
        if not shift
        else "LIST_CONCAT([CAST(embedding[1] AS DOUBLE) + 0.5],"
        " CAST(embedding[2:] AS DOUBLE[]))"
    )
    return f"""
            SELECT GENERATE_SUBSCRIPTS(v, 1) - 1 AS dim_i, UNNEST(v) AS x
            FROM (SELECT {vec} AS v FROM embeddings WHERE {pred})
    """


@REGISTRY.register(
    name="t36_streaming_drift",
    survey_ref="training-data (streaming drift monitor; v16 + t28 composed)",
    doc="v16's per-dimension z drift gate run as a live foreachBatch "
    "stream over 3 embedding micro-batches, baseline = accumulated "
    "(n, Σx, Σx²) moments (O(dim) state, old embeddings never "
    "rescanned). Batch 2 carries a planted +0.5 shift on dim 0, so "
    "the log must show batch 1 clean and batch 2 alarmed — the "
    "deterministic gate lets the oracle unroll both checks exactly "
    "in SQL, hash-checking the streaming path end-to-end.",
    oracle=f"""
        WITH d0 AS ({_drift_batch_moments_sql("vec_id % 3 = 0", False)}),
        d1 AS ({_drift_batch_moments_sql("vec_id % 3 = 1", False)}),
        d2 AS ({_drift_batch_moments_sql("vec_id % 3 = 2", True)}),
        m0 AS (SELECT dim_i, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS s, SUM(x*x) AS s2 FROM d0 GROUP BY dim_i),
        m1 AS (SELECT dim_i, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS s, SUM(x*x) AS s2 FROM d1 GROUP BY dim_i),
        m2 AS (SELECT dim_i, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS s, SUM(x*x) AS s2 FROM d2 GROUP BY dim_i),
        acc1 AS (SELECT dim_i, n, s, s2 FROM m0),
        acc2 AS (SELECT dim_i, SUM(n) AS n, SUM(s) AS s, SUM(s2) AS s2
                 FROM (SELECT * FROM m0 UNION ALL SELECT * FROM m1) GROUP BY dim_i),
        z1 AS (
            SELECT ABS(ROUND(
                (ROUND(b.s/b.n, 6) - ROUND(a.s/a.n, 6))
                / SQRT(ROUND(a.s2/a.n - (a.s/a.n)*(a.s/a.n), 6)/a.n
                       + ROUND(b.s2/b.n - (b.s/b.n)*(b.s/b.n), 6)/b.n), 4)) AS az
            FROM acc1 a JOIN m1 b USING (dim_i)
        ),
        z2 AS (
            SELECT ABS(ROUND(
                (ROUND(b.s/b.n, 6) - ROUND(a.s/a.n, 6))
                / SQRT(ROUND(a.s2/a.n - (a.s/a.n)*(a.s/a.n), 6)/a.n
                       + ROUND(b.s2/b.n - (b.s/b.n)*(b.s/b.n), 6)/b.n), 4)) AS az
            FROM acc2 a JOIN m2 b USING (dim_i)
        )
        SELECT CAST(1 AS BIGINT) AS batch_id,
               CAST(COUNT(*) AS BIGINT) AS n_dims,
               CAST(SUM(CASE WHEN az >= {_DRIFT_Z_STREAM} THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted,
               MAX(az) AS max_abs_z,
               SUM(CASE WHEN az >= {_DRIFT_Z_STREAM} THEN 1 ELSE 0 END) > 0 AS alarm
        FROM z1
        UNION ALL
        SELECT CAST(2 AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN az >= {_DRIFT_Z_STREAM} THEN 1 ELSE 0 END) AS BIGINT),
               MAX(az),
               SUM(CASE WHEN az >= {_DRIFT_Z_STREAM} THEN 1 ELSE 0 END) > 0
        FROM z2
    """,
)
def t36_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = run_drift_stream(spark, sf_dir)
    return spark.read.parquet(os.path.join(state_dir, DRIFT_LOG)).select(
        F.col("batch_id").cast("long").alias("batch_id"),
        "n_dims", "n_drifted", "max_abs_z", "alarm",
    )


# ---------------------------------------------------------------------------
# t37: streaming frequency sketch (count-min accumulated per batch)
# ---------------------------------------------------------------------------

SKETCH = "sketch"
SKETCH_LOG = "sketch_log"
_T37_PROBES = ("spark", "merge", "stream")


def sketch_accumulating_sink(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """a16's count-min sketch kept fresh by a stream: each micro-batch
    of documents sketches its own tokens (256 cells), appends the
    partials to the sketch table, and logs the ACCUMULATED estimate for
    the probe terms — frequency monitoring whose state is O(1) in both
    vocabulary and history (the mergeability a16 pins is exactly what
    makes the per-batch append correct). Log BEFORE append would show
    pre-batch counts; this sink logs AFTER (ingest-inclusive), and the
    oracle unrolls the same cumulative order."""
    return stream.writeStream.foreachBatch(sketch_batch_sink(state_dir)).option(
        "checkpointLocation", checkpoint_dir
    )


def sketch_batch_sink(state_dir: str):
    """t37's foreachBatch body standalone (retry-idempotence tests)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ai_iceberg_demo_spark.operators.aggregates import (
            cms_bucket,
            countmin_sketch,
        )

        spark = batch_df.sparkSession
        toks = batch_df.select(F.explode(F.split("text", " ")).alias("tok"))
        partials = countmin_sketch(toks)
        partials.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(os.path.join(state_dir, SKETCH))
        acc = (
            spark.read.parquet(os.path.join(state_dir, SKETCH))
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        probes = spark.createDataFrame([(t,) for t in _T37_PROBES], "token string")
        pb = probes.select(
            "token", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("row")
        ).select("token", "row", cms_bucket(F.col("token"), F.col("row")).alias("bucket"))
        est = (
            F.broadcast(pb)
            .join(acc, ["row", "bucket"])
            .groupBy("token")
            .agg(F.min("cnt").cast("bigint").alias("estimate"))
            .select(F.lit(batch_id).cast("long").alias("batch_id"), "token", "estimate")
        )
        est.coalesce(1).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(os.path.join(state_dir, SKETCH_LOG))

    return sink


@REGISTRY.register(
    name="t37_streaming_sketch",
    survey_ref="training-data (streaming frequency monitor; a16 + t28 composed)",
    doc="count-min frequency monitoring under Structured Streaming: "
    "documents arrive as 3 id-keyed micro-batches, each appends its "
    "256-cell sketch partials, and the probe-term estimates from the "
    "ACCUMULATED sketch are logged per batch. Deterministic md5 "
    "hashing makes the cumulative estimates SQL-unrollable, so the "
    "streaming path is hash-checked — and the final batch's estimates "
    "must equal a16's batch-mode numbers on the same corpus (pinned "
    "by test: stream ≡ batch for sketches is exactly cell-wise "
    "mergeability).",
    oracle=f"""
        WITH words AS (
            SELECT doc_id % 3 AS b,
                   UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ), fanned AS (
            SELECT b, tok, UNNEST(GENERATE_SERIES(0, 3)) AS row FROM words
        ), cells AS (
            SELECT b, row,
                   (('0x' || SUBSTR(MD5(CAST(row AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 64) AS bucket,
                   COUNT(*) AS cnt
            FROM fanned GROUP BY 1, 2, 3
        ), probes AS (
            SELECT UNNEST({list(_T37_PROBES)!r}) AS token
        ), pb AS (
            SELECT token, row,
                   (('0x' || SUBSTR(MD5(CAST(row AS VARCHAR) || ':' || token), 1, 8))::BIGINT % 64) AS bucket
            FROM probes, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS row) r
        ), cum AS (
            SELECT hi.hi AS batch_id, c.row, c.bucket, SUM(c.cnt) AS cnt
            FROM cells c JOIN (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS hi) hi
              ON c.b <= hi.hi
            GROUP BY 1, 2, 3
        )
        SELECT cu.batch_id, p.token,
               CAST(MIN(cu.cnt) AS BIGINT) AS estimate
        FROM pb p JOIN cum cu ON cu.row = p.row AND cu.bucket = p.bucket
        GROUP BY cu.batch_id, p.token
    """,
)
def t37_streaming_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = tempfile.mkdtemp(prefix="sketch_stream_")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    ingest = stage_batch_files(state_dir, batches)
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ingest, "*.parquet"))
    )
    q = (
        sketch_accumulating_sink(stream, state_dir, os.path.join(state_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.read.parquet(os.path.join(state_dir, SKETCH_LOG)).select(
        F.col("batch_id").cast("long").alias("batch_id"), "token", "estimate"
    )


# ---------------------------------------------------------------------------
# t93: streaming top-k maintenance (exact partials, stream ≡ batch)
# ---------------------------------------------------------------------------

TOPK_STATE = "topk_state"
TOPK_LOG = "topk_log"
_T93_K = 10


def topk_batch_sink(state_dir: str):
    """t93's foreachBatch body: each micro-batch appends its exact
    (term, count) partials (dynamic overwrite by batch_id — retries
    replace, never double), then the ACCUMULATED counts produce the
    running top-k snapshot for the log. State is O(vocab), not
    O(history): partials merge by sum exactly like a16's cells, just
    without the lossy hashing — the exact sibling of t37."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = (
            batch_df.select(F.explode(F.split("text", " ")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("cnt"))
        )
        counts.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(os.path.join(state_dir, TOPK_STATE))
        acc = (
            spark.read.parquet(os.path.join(state_dir, TOPK_STATE))
            .groupBy("term")
            .agg(F.sum("cnt").alias("n"))
        )
        top = (
            acc.orderBy(F.desc("n"), F.asc("term"))
            .limit(_T93_K)
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "term",
                F.col("n").cast("bigint").alias("n"),
            )
        )
        top.write.mode("append").parquet(os.path.join(state_dir, TOPK_LOG))

    return sink


@REGISTRY.register(
    name="t93_streaming_topk",
    survey_ref="training-data (streaming leaderboard; t37's EXACT "
    "sibling — the sketch answers point probes, this maintains the "
    "running top-k table a dashboard reads)",
    doc="exact top-10 term leaderboard kept fresh by a stream: "
    "documents arrive as 3 id-keyed micro-batches, each appends its "
    "exact per-term partials (dynamic overwrite by batch_id — a "
    "retried batch replaces, never doubles), and the accumulated "
    "top-10 is logged per batch. The per-batch snapshots are "
    "SQL-unrollable (same cumulative trick as t37), so the whole "
    "streaming path hash-checks — and the final batch's leaderboard "
    "provably equals the one-shot batch wordcount's top-10 (the "
    "stream ≡ batch law, here for an exact holistic result). State "
    "is O(vocab) regardless of history; the top-k read is "
    "TakeOrderedAndProject over the state table.",
    oracle=f"""
        WITH words AS (
            SELECT doc_id % 3 AS b,
                   UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ), cum AS (
            SELECT hi.hi AS batch_id, w.term, CAST(COUNT(*) AS BIGINT) AS n
            FROM words w JOIN (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS hi) hi
              ON w.b <= hi.hi
            GROUP BY 1, 2
        ), ranked AS (
            SELECT batch_id, term, n,
                   ROW_NUMBER() OVER (PARTITION BY batch_id
                                      ORDER BY n DESC, term) AS rn
            FROM cum
        )
        SELECT batch_id, term, n FROM ranked WHERE rn <= {_T93_K}
        ORDER BY batch_id, n DESC, term
    """,
)
def t93_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = tempfile.mkdtemp(prefix="topk_stream_")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    ingest = stage_batch_files(state_dir, batches)
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(ingest, "*.parquet"))
    )
    q = (
        stream.writeStream.foreachBatch(topk_batch_sink(state_dir))
        .option("checkpointLocation", os.path.join(state_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return (
        spark.read.parquet(os.path.join(state_dir, TOPK_LOG))
        .select("batch_id", "term", "n")
        .orderBy("batch_id", F.desc("n"), "term")
    )
