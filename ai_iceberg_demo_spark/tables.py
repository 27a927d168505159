"""Fixture-table loading and registration.

The driver materializes deterministic synthetic tables (TPC-H-ish star
schema + `events` stream + `documents`/`embeddings` LLM-pipeline
tables) under ``/root/testdata/sf*/``. These stand in for the
reference's data shapes (FIXTURES.md): ``orders`` ≈ Conversation nodes,
``lineitem`` ≈ Message/Result children with ``l_linenumber`` as the
per-conversation sequence (reference ``neo4j_memory.py:327-339``),
``events`` ≈ the Redpanda stream, ``documents`` ≈ markdown reports,
``embeddings`` ≈ ``Result.embedding`` vectors (``neo4j_rag.py:193-201``).

At 100 TB these would be Iceberg tables: fact tables (`lineitem`,
`orders`, `events`) partitioned by date and bucketed by join key so the
big star joins co-locate without a shuffle; dimensions broadcast.
Locally they're single parquet files — same logical plan either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType
from pyspark.storagelevel import StorageLevel

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def persist_once(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() guarded by a CacheManager lookup.

    Query functions are re-invoked per bench run / sweep pass; each
    rebuild produces a plan-identical DataFrame, and a bare persist()
    on it makes CacheManager warn "Asked to cache already cached data"
    (it no-ops, but the warning is plan-hygiene noise that could mask a
    real double-materialization). ``df.storageLevel`` consults the
    CacheManager by canonicalized plan, so an already-cached rebuild is
    returned as-is — identical execution, zero warnings.
    """
    if df.storageLevel != StorageLevel.NONE:
        return df
    return df.persist(level) if level is not None else df.persist()


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind an eager ``localCheckpoint`` of ``df`` now,
    instead of whenever a JVM GC lets ContextCleaner find them. Only for
    a frame nothing reads again: a local checkpoint has no lineage to
    recompute from."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def long_metrics(df: DataFrame, family: str, cols: list[str]) -> DataFrame:
    """(family, metric, value) rows, one per column in ``cols`` per row
    of ``df``, value cast to double — the long format every governance
    card publishes. One ``stack`` expression string, so building it
    costs a handful of py4j round trips instead of ~100 column calls."""
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
    return df.selectExpr(
        f"'{family}' AS family", f"stack({len(cols)}, {pairs}) AS (metric, value)"
    )


# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


# DataFrame handles cached per (session, dir, table): reusing the frame
# reuses its InMemoryFileIndex + parsed schema, so repeated queries skip
# re-listing and re-footer-reading the same parquet — pure plan-time
# overhead at any scale (data reads stay lazy and pushdown still applies
# per query).
_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def normalize_schema(df: DataFrame) -> DataFrame:
    """Pin every timestamp-ish column to TIMESTAMP_LTZ.

    The driver regenerates fixtures between rounds and the parquet
    physical type has already drifted once (TIMESTAMP(NANOS) → round 2's
    timestamp[us], which Spark 4 reads as TIMESTAMP_NTZ). This layer
    makes every downstream query see ONE canonical type regardless:

    - ``long`` named ``ts`` (nanos-as-long legacy read): integer-divide
      to micros — float division would lose precision above 2^53 ns;
    - ``TIMESTAMP_NTZ``: cast to TIMESTAMP. The session timezone is
      pinned UTC (session.py), so the cast is an exact wall-clock
      reinterpretation, no shifting;
    - ``TIMESTAMP`` (LTZ): already canonical.

    All arms are metadata-only column rewrites — no shuffle, pushdown
    on other columns unaffected.
    """
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            out = out.withColumn(f.name, F.col(f.name).cast(TimestampType()))
        elif f.name == "ts" and isinstance(f.dataType, LongType):
            out = out.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return out


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one fixture table as a DataFrame (parquet scan w/ pushdown).

    Schemas are normalized (see normalize_schema) so fixture-physical-
    type churn between fixture regenerations never reaches query code. The
    handle is a plain scan: nothing is persisted, so parquet pushdown
    and AQE exchange reuse see every reader. At 100 TB the canonical
    ``ts`` type is a one-time Iceberg schema migration, not a cache.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (id(spark), sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Tolerate a future fixture regen back to TIMESTAMP(NANOS),
        # which Spark 4 otherwise rejects ([PARQUET_TYPE_ILLEGAL]).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = normalize_schema(spark.read.parquet(path))
    _DF_CACHE[key] = df
    return df


def clear_table_cache(spark: SparkSession) -> None:
    """Drop this session's table handles, so the next load re-lists the
    files (a handle holds no storage)."""
    sid = id(spark)
    for key in [k for k in _DF_CACHE if k[0] == sid]:
        del _DF_CACHE[key]


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; return the frames.

    Views make the SQL surface (`spark.sql`) and the DataFrame surface
    interchangeable — Catalyst produces the same plan.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by its join key.

    This is the 100 TB physical layout the engine assumes for the big
    fact-fact joins (SURVEY.md §2.3 scale notes): when both join sides
    are bucketed by the same key into the same bucket count, Spark
    schedules a co-located sort-merge join with NO shuffle exchange on
    either side — the per-bucket files are joined where they already
    live. tests/test_plans.py::test_bucketed_join_has_no_exchange
    proves the exchange disappears. On Iceberg the same layout is
    ``PARTITIONED BY (bucket(N, key))``.
    """
    writer = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def fan_out_by_key(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition by key columns — ONE exchange of the raw rows.

    For operators whose every downstream aggregation/join is keyed by
    (a superset of) ``cols``, repartitioning the small pre-explode rows
    once makes all of it partition-local: HashPartitioning(cols)
    satisfies ClusteredDistribution for any groupBy/join whose keys
    include ``cols``, so EnsureRequirements inserts no further
    exchanges. The guide-§8 discipline: shuffle the lightweight proxy
    rows once, never their exploded derivatives (grams, tokens, chars),
    which are 10-100x the bytes.

    Partition count = ``spark.sql.shuffle.partitions`` (cores locally,
    cluster-sized in production) passed EXPLICITLY so AQE cannot
    coalesce the tiny local frame to one partition and serialize the
    downstream per-partition compute (the fan_out_small_input rationale
    applied to a keyed exchange).
    """
    # r12 ADVICE: some vendor runtimes set the conf to a non-integer
    # (e.g. "auto"); fall back to the scheduler's parallelism rather
    # than turning every keyed fan-out consumer into a hard failure
    try:
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(c) for c in cols])


def fan_out_small_input(df: DataFrame, factor: int = 8) -> DataFrame:
    """Repartition a scan whose file count can't feed the cores.

    One small parquet file means one scan task doing all the map work
    (tokenize/hash/decode) serially — the local-fixture shape. At
    cluster scale the file count exceeds the cores, the condition is
    false, and no shuffle is added where file parallelism already
    exists. Uses inputFiles() (plan-cached on the shared table
    handles), NOT .rdd.getNumPartitions(), which converts to an RDD on
    every call; non-file sources return [] and are left untouched.
    ``factor`` sets the per-file width cap; callers whose downstream is
    pure map-side CPU (r13: the MinHash signature build, now exchange-
    free) pass a full-core factor since no later exchange will ever
    re-spread the work.
    """
    n_in = len(df.inputFiles())
    cores = df.sparkSession.sparkContext.defaultParallelism
    if 0 < n_in * 4 <= cores:
        return df.repartition(min(cores, n_in * factor))
    return df
