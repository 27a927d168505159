"""Ingestion with explicit schemas and corrupt-row quarantine.

At 100 TB, inputs are never clean: truncated JSON lines, rows with the
wrong arity, numbers where strings should be. Two disciplines, both
enforced here:

1. **Explicit schema, always.** Schema inference is a full extra pass
   over the data (Spark reads the files twice) and yields a schema
   that drifts with the sample. Every reader below requires a schema.
2. **Quarantine, don't crash / don't silently drop.** PERMISSIVE mode
   captures the raw line of each failed row in a corrupt-record
   column; `split_quarantine` forks the stream into (good, bad) so
   the pipeline keeps flowing and the bad rows land somewhere
   auditable (the reference's swallow-and-log stance,
   redpanda_activity.py:137-140, made queryable).

The quarantine split is two filters over one scan — Spark dedups the
scan via plan reuse, and both outputs stay columnar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)])


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSON-lines reader: explicit schema + corrupt capture. A row that
    fails to parse yields nulls for the data columns and the raw line
    in _corrupt_record."""
    return (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(good_rows_without_corrupt_col, quarantined_raw_lines, parsed).

    The parse is materialized (cache) before splitting: Spark disallows
    querying only the corrupt column straight off raw files
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and it also guarantees the two
    branches share ONE parse pass. The third element is the cached
    parsed frame — the caller MUST ``parsed.unpersist()`` after both
    branches are consumed, or repeated ingests accumulate storage
    memory for the session's lifetime. At 100 TB, replace the cache
    with a write to a staging table and split from there — same
    contract, no pin."""
    parsed = df.cache()
    good = parsed.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = parsed.filter(F.col(CORRUPT_COL).isNotNull()).select(F.col(CORRUPT_COL).alias("raw"))
    return good, bad, parsed


def compact_write(
    df: DataFrame, path: str, target_files: int, sort_cols: list[str] | None = None
) -> None:
    """Compaction writer — the small-files answer. Re-buckets the data
    into `target_files` output files; with `sort_cols`, range-partitions
    + sorts within files so min/max column stats actually prune
    (clustered layout ≈ Iceberg's sort-order rewrite). Never
    coalesce(1): range repartition keeps the write parallel."""
    if sort_cols:
        out = df.repartitionByRange(target_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(target_files)
    out.write.mode("overwrite").parquet(path)


def read_evolved_parquet(
    spark: SparkSession, *paths: str, expect: StructType | None = None
) -> DataFrame:
    """Read parquet written under EVOLVING schemas as one frame:
    ``mergeSchema`` unions column sets across files (rows from files
    missing a column read NULL there — Iceberg's add-column semantics
    without a metastore). With ``expect`` set, the merged frame is
    then projected onto exactly that schema — extra columns dropped,
    still-missing ones materialized as typed NULLs — so downstream
    code binds against ONE contract regardless of which file vintage
    a partition came from.

    Scale note: mergeSchema footer-merges at planning time (no data
    pass); per-file pushdown/pruning is unaffected. Type-WIDENING
    conflicts (int file + string file) still fail loudly — that is a
    real break, not evolution, and should route through a backfill."""
    merged = spark.read.option("mergeSchema", "true").parquet(*paths)
    if expect is None:
        return merged
    cols = []
    for f in expect.fields:
        if f.name in merged.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return merged.select(*cols)
