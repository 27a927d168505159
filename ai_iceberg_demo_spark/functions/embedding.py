"""Text embedding — SURVEY.md §2.10 V1/V6.

The reference embeds text with OpenAI ``text-embedding-3-small``
(1536-d, `neo4j_rag.py:67-92`) and stores the vector on the Result
node (`neo4j_rag.py:163-214`). Non-determinism quarantine (SURVEY §7):
the provider call lives behind a seam; the default provider is a
DETERMINISTIC hash embedding (signed feature hashing — the classic
hashing trick) so the whole surface stays oracle-checkable.

Two implementations of the same algorithm:

- ``hash_embed_df`` — pure JVM column expressions (md5 → bucket/sign →
  group-sum → dense assemble → l2-normalize). No Python in the hot
  path; whole-stage codegen end to end; DuckDB-oracle-checked
  (v1_hash_embedding).
- ``embed_texts`` — the production seam: an Arrow-batched
  ``pandas_udf`` that calls a provider callable per batch. Default
  provider replicates the hash embedding in numpy; swap in a real
  model/API client in production. Unit tests assert the two paths
  agree bit-for-bit after rounding (tests/test_embedding.py).

Scale notes: both paths are map-only per document except the
group-sum, which aggregates (doc_id, bucket) partials map-side —
shuffle volume is O(docs × distinct buckets ≤ dim), independent of
text length. The pandas seam batches by Arrow record batch, so
provider calls amortize per ~10k rows, the same shape a real
embedding-API client needs.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, DoubleType

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import fan_out_small_input, load_table

REGISTRY = Registry()

DEFAULT_DIM = 64  # test dim; production uses the provider's (1536 for the reference)

_TOKEN_RE = "[a-z0-9]+"


# ---------------------------------------------------------------------------
# JVM-side hash embedding (exact, oracle-checked)
# ---------------------------------------------------------------------------


def hash_embed_raw(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", dim: int = DEFAULT_DIM
) -> DataFrame:
    """Signed-feature-hash embedding, entirely in JVM expressions and
    entirely MAP-SIDE — zero shuffles. Returns the pre-normalization
    form (id, acc, norm); ``hash_embed_df`` divides through for the
    dense normalized vector.

    Feature hashing is a per-document computation, so the histogram is
    built with array higher-order functions over the token array instead
    of explode + groupBy: tokens → md5 digests → (bucket, ±1) structs →
    fold into a dense dim-accumulator → l2-normalize, components rounded
    to 6 decimals. On a cluster this is embarrassingly parallel and
    immune to token-count skew (an earlier explode+groupBy version
    shuffled O(docs × dim) rows twice; this is 2× faster at sf0.1 and
    strictly better at scale).

    HOF-recompute discipline (measured, see SCALE.md): the md5 map runs
    in the aggregate's *input* (evaluated once per row), and the norm is
    divided through via ``zip_with`` against ``array_repeat(norm, dim)``
    so neither is re-evaluated per element.
    """
    # Fan out the serial tokenize+md5 map stage when the input is a
    # handful of files (measured ~40% of query time at sf0.1); inert at
    # cluster scale — see tables.fan_out_small_input.
    docs = fan_out_small_input(docs)
    toks = docs.select(
        id_col,
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOKEN_RE), 0).alias("toks"),
    ).where(F.size("toks") > 0)  # token-less docs produce no row (matches the oracle's UNNEST)
    # hash each token ONCE; bucket and sign both read the same digest
    pairs = toks.select(
        id_col,
        F.transform(
            F.transform("toks", lambda t: F.md5(F.encode(t, "UTF-8"))),
            lambda h: F.struct(
                (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim).cast("int").alias("bucket"),
                F.when(F.substring(h, 9, 1) <= "7", 1.0).otherwise(-1.0).alias("sign"),
            ),
        ).alias("pairs"),
    )
    # Fold the (bucket, sign) pairs into a dense accumulator. The sums
    # are small exact integers in doubles, so accumulation order cannot
    # change any result bit vs. the groupBy formulation or the oracle.
    acc = pairs.select(
        id_col,
        F.aggregate(
            "pairs",
            F.array_repeat(F.lit(0.0), dim),
            lambda a, p: F.transform(
                a, lambda x, i: x + F.when(p["bucket"] == i, p["sign"]).otherwise(0.0)
            ),
        ).alias("acc"),
    )
    return acc.select(
        id_col,
        "acc",
        F.greatest(F.sqrt(F.aggregate("acc", F.lit(0.0), lambda s, x: s + x * x)), F.lit(1e-12)).alias(
            "norm"
        ),
    )


def hash_embed_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", dim: int = DEFAULT_DIM
) -> DataFrame:
    """Dense normalized hash embedding (see hash_embed_raw), components
    rounded to 6 decimals — the array form v3/d5 consume."""
    normed = hash_embed_raw(docs, text_col=text_col, id_col=id_col, dim=dim)
    return normed.select(
        id_col,
        F.zip_with("acc", F.array_repeat("norm", dim), lambda x, n: F.round(x / n, 6)).alias(
            "embedding"
        ),
    )


def hash_embed_oracle_sql(dim: int = DEFAULT_DIM, table: str = "documents") -> str:
    """The DuckDB twin of hash_embed_df ∘ posexplode (same md5
    bucketing/signs), flattened to one (doc_id, dim_i, val) row per
    embedding component so the output is scalar-only."""
    return f"""
        WITH toks AS (
            SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '{_TOKEN_RE}')) AS tok
            FROM {table}
        ), b AS (
            SELECT doc_id,
                   CAST(('0x' || SUBSTR(MD5(tok),1,8))::BIGINT % {dim} AS INT) AS bucket,
                   CASE WHEN SUBSTR(MD5(tok),9,1) <= '7' THEN 1.0 ELSE -1.0 END AS sign
            FROM toks
        ), counts AS (
            SELECT doc_id, bucket, SUM(sign) AS c FROM b GROUP BY doc_id, bucket
        ), norms AS (
            SELECT doc_id, GREATEST(SQRT(SUM(c * c)), 1e-12) AS norm
            FROM counts GROUP BY doc_id
        ), grid AS (
            SELECT n.doc_id, g.i, n.norm
            FROM norms n
            CROSS JOIN (SELECT UNNEST(RANGE(0, {dim})) AS i) g
        )
        SELECT grid.doc_id,
               CAST(grid.i AS INT) AS dim_i,
               ROUND(COALESCE(c.c, 0.0) / grid.norm, 6) AS val
        FROM grid
        LEFT JOIN counts c ON c.doc_id = grid.doc_id AND c.bucket = grid.i
    """


# ---------------------------------------------------------------------------
# Provider seam (pandas_udf; production path)
# ---------------------------------------------------------------------------


def default_hash_provider(dim: int = DEFAULT_DIM) -> Callable[[pd.Series], np.ndarray]:
    """Deterministic numpy replica of hash_embed_df — the test/fallback
    provider. A production provider has the same signature: a batch of
    texts in, a (n, dim) float array out."""
    import hashlib
    import re

    token_re = re.compile(_TOKEN_RE)

    def provider(texts: pd.Series) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float64)
        for row, text in enumerate(texts):
            for tok in token_re.findall(text.lower()):
                h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                bucket = int(h[:8], 16) % dim
                sign = 1.0 if h[8] <= "7" else -1.0
                out[row, bucket] += sign
        norms = np.maximum(np.sqrt((out * out).sum(axis=1, keepdims=True)), 1e-12)
        return np.round(out / norms, 6)

    return provider


def embed_texts(
    docs: DataFrame,
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    provider: Callable[[pd.Series], np.ndarray] | None = None,
) -> DataFrame:
    """V1 as the production seam: append an ``embedding`` column via an
    Arrow-batched pandas_udf calling ``provider`` once per batch.

    The closure is self-contained (no module-global references), so it
    deserializes on any executor worker regardless of driver cwd.
    """
    if provider is None:
        provider = default_hash_provider(dim)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        mat = provider(texts)
        return pd.Series(list(mat))

    return docs.withColumn("embedding", embed(F.col(text_col)))


def index_documents(docs: DataFrame, dim: int = DEFAULT_DIM) -> DataFrame:
    """V6 result indexing (neo4j_rag.py:163-214): embed full text and
    return (doc_id, embedding) ready to MERGE onto the corpus table —
    persistence runs through operators.mutations."""
    return hash_embed_df(docs, dim=dim)


@REGISTRY.register(
    name="v1_hash_embedding",
    survey_ref="V1,V6",
    doc="deterministic signed-feature-hash embedding (the engine's "
    "quarantined stand-in for text-embedding-3-small, neo4j_rag.py:67-92), "
    "computed in pure JVM expressions and hash-checked against the "
    "DuckDB twin; the pandas provider seam (embed_texts) is asserted "
    "equal in tests/test_embedding.py. The query output is (doc_id, "
    "dim_i, val) scalar rows — every component value-checked, no "
    "array column in the result (the internal hash_embed_df keeps the "
    "array shape for downstream v3/d5 use).",
    bench=True,
    oracle=hash_embed_oracle_sql(),
)
def v1_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Relational formulation for the FLATTENED surface: explode tokens
    # → (doc_id, bucket) partial-agg counts → norms → dense grid left
    # join. Two shuffles of docs×≤dim compact rows (the join keys
    # match the counts agg keys, so the exchange is reused). Measured
    # 2× faster at sf0.1 than folding into a per-doc array and
    # posexploding it — Generate over a computed 64-double array pays
    # ~0.9 s that explode(sequence) + join does not. hash_embed_raw's
    # zero-shuffle fold remains the right shape when the CONSUMER
    # wants the dense array (v3/d5); this query's consumer wants rows.
    dim = DEFAULT_DIM
    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit(_TOKEN_RE), 0)).alias(
            "tok"
        ),
    )
    h = toks.select("doc_id", F.md5(F.encode("tok", "UTF-8")).alias("h"))
    b = h.select(
        "doc_id",
        (F.conv(F.substring("h", 1, 8), 16, 10).cast("long") % dim).cast("int").alias("bucket"),
        F.when(F.substring("h", 9, 1) <= "7", 1.0).otherwise(-1.0).alias("sign"),
    )
    counts = b.groupBy("doc_id", "bucket").agg(F.sum("sign").alias("c"))
    norms = counts.groupBy("doc_id").agg(
        F.greatest(F.sqrt(F.sum(F.col("c") * F.col("c"))), F.lit(1e-12)).alias("norm")
    )
    grid = norms.select(
        "doc_id", "norm", F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("dim_i")
    )
    return grid.join(
        counts,
        (grid.doc_id == counts.doc_id) & (grid.dim_i == counts.bucket),
        "left",
    ).select(
        grid.doc_id,
        F.col("dim_i").cast("int").alias("dim_i"),
        F.round(F.coalesce("c", F.lit(0.0)) / F.col("norm"), 6).alias("val"),
    )
