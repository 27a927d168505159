"""Reproducible sampling — the training-data split toolbox.

A 100 TB corpus is never trained on raw: it's sampled, split, and
class-balanced first. Spark's ``sample()``/``randomSplit()`` are
seed-based but partition-sensitive (a repartition changes which rows a
seed picks — poison for reproducible experiments and for oracles).
Everything here derives membership from a HASH OF THE ROW KEY instead:

- deterministic on any cluster layout, any partitioning, any engine;
- stable under re-runs and appends (a new row can't evict an old one);
- exactly what feature stores / dataset versioning need at scale.

md5 keys the oracle surface (engine-portable); production swaps the
digest for xxhash64 (JVM, no hex round-trip) with identical semantics.
All three ops are map-only or one small agg — nothing here shuffles
the corpus itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, long_metrics, persist_once

REGISTRY = Registry()


def hash_pct(key: Column) -> Column:
    """Deterministic per-key percentile in [0, 100): first 8 md5 hex
    digits of the key, mod 100. Uniform for any high-entropy digest."""
    return (
        F.conv(F.substring(F.md5(F.encode(key.cast("string"), "UTF-8")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )


_HASH_PCT_SQL = "(('0x' || SUBSTR(MD5(CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 100)"


@REGISTRY.register(
    name="u5_hash_sample",
    survey_ref="training-data (sampling)",
    doc="reproducible 10% corpus sample by key-hash percentile — "
    "partition-layout-independent (unlike sample(seed)), append-stable, "
    "map-only. The production digest is xxhash64; md5 keys the oracle.",
    oracle=f"""
        SELECT doc_id, lang, LENGTH(text) AS n_chars
        FROM documents
        WHERE {_HASH_PCT_SQL.format(key="doc_id")} < 10
    """,
)
def u5_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.filter(hash_pct(F.col("doc_id")) < 10).select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    )


@REGISTRY.register(
    name="u6_train_test_split",
    survey_ref="training-data (splits)",
    doc="deterministic 80/10/10 train/val/test assignment by key-hash "
    "band, with per-split×lang counts as the audit output. A row's "
    "split never changes when the corpus grows or repartitions — the "
    "property randomSplit() cannot give.",
    oracle=f"""
        WITH assigned AS (
            SELECT lang,
                   CASE WHEN {_HASH_PCT_SQL.format(key="doc_id")} < 80 THEN 'train'
                        WHEN {_HASH_PCT_SQL.format(key="doc_id")} < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        )
        SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM assigned GROUP BY split, lang
    """,
)
def u6_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pct = hash_pct(F.col("doc_id"))
    assigned = docs.select(
        "lang",
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split", "lang").agg(F.count("*").alias("n"))


@REGISTRY.register(
    name="u7_class_weights",
    survey_ref="training-data (balancing)",
    doc="inverse-frequency class weights per lang (total / (k * count), "
    "the sklearn 'balanced' formula) joined back onto every row — the "
    "small per-class table broadcasts; the corpus never shuffles.",
    oracle="""
        WITH counts AS (
            SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
        ), tot AS (
            SELECT SUM(cnt) AS total, COUNT(*) AS k FROM counts
        )
        SELECT d.doc_id, d.lang,
               ROUND(CAST(t.total AS DOUBLE) / (t.k * c.cnt), 6) AS weight
        FROM documents d
        JOIN counts c ON d.lang = c.lang
        CROSS JOIN tot t
    """,
)
def u7_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("lang").agg(F.count("*").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("total"), F.count("*").alias("k")
    )
    weights = counts.crossJoin(F.broadcast(tot)).select(
        "lang", F.round(F.col("total").cast("double") / (F.col("k") * F.col("cnt")), 6).alias("weight")
    )
    return docs.join(F.broadcast(weights), "lang").select("doc_id", "lang", "weight")


@REGISTRY.register(
    name="u8_source_cap",
    survey_ref="training-data (domain balancing)",
    doc="cap each source/domain at 10 documents, selected by key-hash "
    "order (deterministic under any partitioning — a rand() order "
    "re-caps differently on task retry). The standard guard against "
    "one crawl domain dominating the mix; salted_topk is the "
    "skew-proof spelling when one domain holds billions of rows.",
    oracle="""
        SELECT source, doc_id FROM (
            SELECT source, doc_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        ) WHERE rn <= 10
    """,
)
def u8_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("source", "doc_id")
    )


PACK_BUDGET = 2048  # tokens per packed training sequence
_PACK_SHARD = 1000  # docs per prefix-sum shard


@REGISTRY.register(
    name="u9_sequence_packing",
    survey_ref="training-data (batch packing)",
    doc="sequence packing for training batches: documents in doc_id "
    "order are laid head-to-tail into fixed 2048-token bins; each doc "
    "gets (bin_id, bin_offset). Semantically a GLOBAL running sum — "
    "but a single ORDER BY window funnels 100 TB through one task, so "
    "it is computed as the classic two-phase distributed prefix sum: "
    "cumsum within doc_id-contiguous shards (parallel windows) + tiny "
    "per-shard totals rolled up and broadcast back. Bit-identical to "
    "the one-window spelling (the oracle) at any shard size.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST((SUM(n_tokens) OVER w - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id,
               CAST((SUM(n_tokens) OVER w - n_tokens) % {PACK_BUDGET} AS BIGINT) AS bin_offset
        FROM toks
        WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
    """,
)
def u9_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # doc_id DIV shard keeps shards contiguous in the global doc_id
    # order, so pack_positions' shard-local cumsum + shard offsets
    # reproduce the single global window exactly
    toks = doc_tokens(load_table(spark, "documents", sf_dir))
    return pack_positions(toks, order_col="doc_id").select(
        "doc_id", "n_tokens", "bin_id", "bin_offset"
    )


def doc_tokens(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens): the one whitespace-token count every
    packer, mixer and card of the sampling family reads."""
    return docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )


_SHUFFLE_EPOCH = 1  # epoch number keys the shuffle order; bump per epoch


def epoch_shuffle_positions(
    df: DataFrame, key: str = "doc_id", epoch: int = _SHUFFLE_EPOCH
) -> DataFrame:
    """Append a ``position`` column: the row's rank in the global
    md5(epoch:key) order, computed bucket-major (u11's shape — shared
    by the standalone query and pipeline_training_prep so the epoch
    constant can't desync between them).

    The bucket counts aggregate the PRE-window frame, so the corpus
    window (hash exchange + per-bucket sort) executes exactly once;
    only the cheap keyed projection is evaluated twice (once for the
    256-row count table, once for the rank)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(f"{epoch}:"), F.col(key).cast("string")))
    keyed = df.withColumn("_h", h).withColumn("_b", F.substring(h, 1, 2))
    counts = keyed.groupBy("_b").agg(F.count("*").alias("_n"))
    # 256-row frame: the only unpartitioned window runs over bucket
    # counts, never the corpus
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy("_b").orderBy("_h", key)
    local = keyed.withColumn("_rn", F.row_number().over(w_local))
    return (
        local.join(F.broadcast(offsets), "_b")
        .withColumn("position", (F.col("_off") + F.col("_rn") - 1).cast("bigint"))
        .drop("_h", "_b", "_rn", "_off")
    )


def pack_positions(df: DataFrame, order_col: str, tokens_col: str = "n_tokens") -> DataFrame:
    """Append ``bin_id``/``bin_offset``: lay rows head-to-tail into
    fixed PACK_BUDGET-token bins following ``order_col`` order — the
    two-phase distributed prefix sum (u9's shape, shared with
    pipeline_training_prep). Requires ``order_col DIV _PACK_SHARD`` to
    be contiguous in the global order (true for dense positions and
    for doc_id order). The caller persists ``df`` when its lineage is
    expensive — this helper reads it twice (shard totals + the ranked
    pass)."""
    from pyspark.sql import Window

    sharded = df.withColumn("_shard", (F.col(order_col) / _PACK_SHARD).cast("bigint"))
    s_tot = sharded.groupBy("_shard").agg(F.sum(tokens_col).alias("_tot"))
    w_soff = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    s_offsets = s_tot.select(
        "_shard", F.coalesce(F.sum("_tot").over(w_soff), F.lit(0)).alias("_soff")
    )
    w_shard = Window.partitionBy("_shard").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_end = sharded.withColumn("_local_end", F.sum(tokens_col).over(w_shard))
    start = F.col("_soff") + F.col("_local_end") - F.col(tokens_col)
    return (
        with_end.join(F.broadcast(s_offsets), "_shard")
        .withColumn("bin_id", (start / PACK_BUDGET).cast("bigint"))
        .withColumn("bin_offset", (start % PACK_BUDGET).cast("bigint"))
        .drop("_shard", "_local_end", "_soff")
    )


@REGISTRY.register(
    name="u11_epoch_shuffle",
    survey_ref="training-data (epoch shuffle)",
    doc="deterministic global training-order shuffle: epoch position = "
    "rank of md5(epoch || ':' || doc_id). Semantically ONE global ORDER "
    "BY — but a total sort funnels 100 TB through a range exchange with "
    "a sampling pass, so it's computed bucket-major instead: the first "
    "2 hex digits split the hash order into 256 contiguous buckets, a "
    "per-bucket window ranks locally (256-way parallel), and the 256 "
    "bucket counts cumsum into offsets broadcast back. Bit-identical "
    "to the one-window spelling (the oracle) because lexicographic md5 "
    "order IS (2-hex-prefix, remainder) order.",
    oracle=f"""
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY MD5('{_SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                    AS BIGINT) AS position
        FROM documents
    """,
)
def u11_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return epoch_shuffle_positions(docs).select("doc_id", "position")


@REGISTRY.register(
    name="u11b_epoch_shuffle_2",
    survey_ref="training-data (epoch shuffle, epoch 2)",
    doc="u11 at epoch=2: the SAME corpus, an independent deterministic "
    "permutation — proof the epoch parameter re-keys the global order "
    "without any data rewrite. Same bucket-major plan shape (no "
    "rangepartitioning).",
    oracle="""
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY MD5('2:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                    AS BIGINT) AS position
        FROM documents
    """,
)
def u11b_epoch_shuffle_2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return epoch_shuffle_positions(docs, epoch=2).select("doc_id", "position")


STRATA_FRAC = 0.2  # per-stratum sampling fraction


@REGISTRY.register(
    name="u12_stratified_sample",
    survey_ref="training-data (stratified sampling)",
    doc=f"proportional stratified sample: exactly ceil({STRATA_FRAC} × "
    "stratum size) documents per lang, chosen by key-hash order. Unlike "
    "sampleBy(), per-stratum counts are EXACT, not expected-value, and "
    "the selection is deterministic under any partitioning. One window "
    "per stratum + a broadcast of the tiny per-lang quota table.",
    oracle=f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
        ), ranked AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        )
        SELECT r.doc_id, r.lang
        FROM ranked r JOIN counts c ON r.lang = c.lang
        WHERE r.rn <= CEIL({STRATA_FRAC} * c.cnt)
    """,
)
def u12_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    counts = docs.groupBy("lang").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("doc_id", "lang").withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(counts), "lang")
        .filter(F.col("rn") <= F.ceil(F.lit(STRATA_FRAC) * F.col("cnt")))
        .select("doc_id", "lang")
    )


MIXTURE_BUDGET_FRAC = 0.5  # token budget as a fraction of the corpus


def mixture_rates(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    frac: float = MIXTURE_BUDGET_FRAC,
    extra_aggs: tuple[Column, ...] = (),
) -> DataFrame:
    """Per-source mixture table for a uniform token budget of ``frac``
    × total: ``(source, src_tokens, share_tokens, sample_rate,
    *extra_aggs)`` over any per-row (source, tokens) frame. This is THE
    rate formula — u10_mixture_plan, u10b_mixture_apply and
    pipeline_training_prep all derive their rates here, so the budget
    constant and the min(1, share/available) rule cannot desync.

    ``extra_aggs`` lets the planner fold additional per-source
    aggregates (e.g. doc counts) into the SAME groupBy, keeping the
    whole mixture plan a single corpus scan; ``share_tokens`` is
    exposed so planned/deficit columns can be derived without
    re-deriving the share."""
    per_source = df.groupBy("source").agg(
        F.sum(tokens_col).cast("bigint").alias("src_tokens"), *extra_aggs
    )
    tot = per_source.agg(F.sum("src_tokens").alias("total"), F.count("*").alias("k"))
    share = F.lit(frac) * F.col("total") / F.col("k")
    return per_source.crossJoin(F.broadcast(tot)).select(
        per_source["*"],
        share.alias("share_tokens"),
        F.round(F.least(F.lit(1.0), share / F.col("src_tokens")), 6).alias("sample_rate"),
    )


@REGISTRY.register(
    name="u10_mixture_plan",
    survey_ref="training-data (mixture planning)",
    doc="source-mixture planner: given a token budget (50% of the "
    "corpus) and a uniform target share per source, compute each "
    "source's sampling rate min(1, target/available), the tokens it "
    "will contribute, and its unfilled deficit when the source is too "
    "small to meet its share. This is the static table a DoReMi-style "
    "weighted sampler consumes; it aggregates the corpus to one row "
    "per source (one partial-agg shuffle on a tiny key space), so the "
    "plan itself costs one scan at any corpus size.",
    oracle=f"""
        WITH per_source AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(n_tokens) AS total, COUNT(*) AS k FROM per_source
        )
        SELECT s.source, s.n_docs, s.n_tokens,
               ROUND(LEAST(1.0, ({MIXTURE_BUDGET_FRAC} * t.total / t.k) / s.n_tokens), 6)
                   AS sample_rate,
               CAST(ROUND(LEAST(s.n_tokens, {MIXTURE_BUDGET_FRAC} * t.total / t.k), 0)
                   AS BIGINT) AS planned_tokens,
               CAST(ROUND(GREATEST(0, {MIXTURE_BUDGET_FRAC} * t.total / t.k - s.n_tokens), 0)
                   AS BIGINT) AS deficit_tokens
        FROM per_source s CROSS JOIN tot t
    """,
)
def u10_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = doc_tokens(load_table(spark, "documents", sf_dir))
    # the shared rate formula; n_docs folds into the same single-scan
    # groupBy via extra_aggs, and share_tokens comes back so the
    # planned/deficit columns derive from the SAME share the rate used
    rates = mixture_rates(
        toks, extra_aggs=(F.count("*").cast("bigint").alias("n_docs"),)
    )
    return rates.select(
        "source",
        "n_docs",
        F.col("src_tokens").alias("n_tokens"),
        "sample_rate",
        F.round(F.least(F.col("src_tokens").cast("double"), F.col("share_tokens")), 0)
        .cast("bigint")
        .alias("planned_tokens"),
        F.round(F.greatest(F.lit(0.0), F.col("share_tokens") - F.col("src_tokens")), 0)
        .cast("bigint")
        .alias("deficit_tokens"),
    )


@REGISTRY.register(
    name="u10b_mixture_apply",
    survey_ref="training-data (mixture sampling)",
    doc="EXECUTE u10's mixture plan: each source keeps the key-hash "
    "slice matching its planned sample_rate (hash percentile < "
    "rate × 100) — the planner→sampler link. The per-source rate table "
    "is tiny and broadcasts onto a map-side corpus scan: applying a "
    "whole mixture plan to 100 TB costs one pass and zero corpus "
    "shuffles, and a task retry keeps the identical rows (hash-based, "
    "not rand()).",
    oracle=f"""
        WITH per_source AS (
            SELECT source,
                   CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT SUM(n_tokens) AS total, COUNT(*) AS k FROM per_source
        ), plan AS (
            SELECT s.source,
                   ROUND(LEAST(1.0, ({MIXTURE_BUDGET_FRAC} * t.total / t.k) / s.n_tokens), 6)
                       AS sample_rate
            FROM per_source s CROSS JOIN tot t
        )
        SELECT d.doc_id, d.source
        FROM documents d JOIN plan p ON d.source = p.source
        WHERE {_HASH_PCT_SQL.format(key="d.doc_id")} < p.sample_rate * 100
    """,
)
def u10b_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    rates = mixture_rates(doc_tokens(docs)).select("source", "sample_rate")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(hash_pct(F.col("doc_id")) < F.col("sample_rate") * 100)
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# u13: pre-training data card  /  u6b: leakage-safe split
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u13_data_card",
    survey_ref="training-data (mixture audit)",
    doc="the pre-training 'data card': docs / whitespace-tokens / chars "
    "and mean quality per (source, lang, quality-band) cell — the audit "
    "table a mixture decision (u10) is made FROM. One partial-agg "
    "shuffle of the tiny group key; quality and token counts are "
    "map-side column expressions (t2/t1 formulas), so the corpus is "
    "scanned once and never exploded.",
    oracle="""
        WITH scored AS (
            SELECT source, lang,
                   LENGTH(text) AS n,
                   CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS BIGINT) AS n_tok,
                   0.6 * LEAST(LENGTH(text) / 400.0, 1.0)
                     + 0.4 * (CASE WHEN
                           CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                             / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1)
                           BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality
            FROM documents
        )
        SELECT source, lang,
               CASE WHEN quality >= 0.9 THEN 'high'
                    WHEN quality >= 0.6 THEN 'mid'
                    ELSE 'low' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n) AS BIGINT) AS n_chars,
               ROUND(AVG(quality), 6) AS avg_quality
        FROM scored
        GROUP BY source, lang, band
    """,
)
def u13_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import quality_score, word_count

    docs = load_table(spark, "documents", sf_dir)
    q = quality_score(F.col("text"))
    scored = docs.select(
        "source",
        "lang",
        F.length("text").alias("n"),
        word_count(F.col("text")).cast("bigint").alias("n_tok"),
        q.alias("quality"),
    )
    band = (
        F.when(F.col("quality") >= 0.9, "high")
        .when(F.col("quality") >= 0.6, "mid")
        .otherwise("low")
    )
    return (
        scored.select("source", "lang", band.alias("band"), "n", "n_tok", "quality")
        .groupBy("source", "lang", "band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.sum("n").cast("bigint").alias("n_chars"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


@REGISTRY.register(
    name="u6b_group_split",
    survey_ref="training-data (leakage-safe splits)",
    doc="contamination-aware train/val/test split: the 80/10/10 hash "
    "band is keyed on the CONTENT fingerprint (t4's normalized md5), "
    "not the row id — byte-identical duplicates always land in the "
    "same split, so an exact dup can never straddle train and test "
    "(the leakage u6's id-keyed split permits). Map-only; at 100 TB "
    "the near-dup-safe variant keys the same band on d6's component "
    "representative instead.",
    oracle=f"""
        WITH fp AS (
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        )
        SELECT doc_id, fp,
               CASE WHEN {_HASH_PCT_SQL.format(key="fp")} < 80 THEN 'train'
                    WHEN {_HASH_PCT_SQL.format(key="fp")} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM fp
    """,
)
def u6b_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    pct = hash_pct(F.col("fp"))
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).select(
        "doc_id",
        "fp",
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# u14: curriculum ordering
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u14_curriculum_order",
    survey_ref="training-data (curriculum learning)",
    doc="curriculum data order: every document ranked globally by "
    "quality band (high → mid → low, t2/u13 thresholds) with a "
    "deterministic hash shuffle WITHIN each band — easy-to-hard "
    "ordering that still decorrelates neighbors inside a band. Same "
    "two-phase shape as u11: per-(band, hash-prefix-bucket) windows + "
    "a broadcast prefix-count table (3×256 rows), bit-identical to "
    "the one global ROW_NUMBER (the oracle's spelling) with no "
    "total-order funnel.",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   CASE WHEN q >= 0.9 THEN 2 WHEN q >= 0.6 THEN 1 ELSE 0 END AS band
            FROM (
                SELECT doc_id,
                       0.6 * LEAST(LENGTH(text) / 400.0, 1.0)
                         + 0.4 * (CASE WHEN
                               CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                    t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                                 / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1)
                               BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) AS q
                FROM documents
            )
        )
        SELECT doc_id, CAST(band AS INT) AS band,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY band DESC, MD5(CAST(doc_id AS VARCHAR)), doc_id) - 1
                    AS BIGINT) AS position
        FROM scored
    """,
)
def u14_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ai_iceberg_demo_spark.functions.text import quality_score

    docs = load_table(spark, "documents", sf_dir)
    q = quality_score(F.col("text"))
    band = F.when(q >= 0.9, 2).when(q >= 0.6, 1).otherwise(0)
    h = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id", band.alias("band"), h.alias("_h"), F.substring(h, 1, 2).alias("_b")
    )
    counts = keyed.groupBy("band", "_b").agg(F.count("*").alias("_n"))
    # the only unpartitioned window runs over the 3×256 count table,
    # never the corpus — global order is (band DESC, md5, id), and the
    # md5-hex prefix keeps each (band, bucket) range contiguous in it
    w_off = Window.orderBy(F.desc("band"), F.asc("_b")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "band", "_b", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy("band", "_b").orderBy("_h", "doc_id")
    local = keyed.withColumn("_rn", F.row_number().over(w_local))
    return (
        local.join(F.broadcast(offsets), ["band", "_b"])
        .select(
            "doc_id",
            F.col("band").cast("int").alias("band"),
            (F.col("_off") + F.col("_rn") - 1).cast("bigint").alias("position"),
        )
    )


# ---------------------------------------------------------------------------
# u16: source interleaving
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u16_interleave_sources",
    survey_ref="training-data (post-mixing order)",
    doc="deterministic round-robin source interleave: rank docs within "
    "each source by key-hash, then order globally by (rank, source) — "
    "after mixing (u10b), this is the pass that prevents long "
    "single-source runs in the training stream. The global position "
    "is computed in CLOSED FORM from the per-source rank and the "
    "broadcast size table — position = Σ_s min(rank−1, n_s) + "
    "|{s' < s : n_s' ≥ rank}| — so the plan has per-source windows "
    "plus a map-side array fold, and NO total-order exchange (the "
    "oracle is the global ROW_NUMBER spelling; the two are proven "
    "equal).",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
            FROM documents
        )
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (ORDER BY rn, source, doc_id) - 1 AS BIGINT)
                   AS position
        FROM ranked
    """,
)
def u16_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("doc_id", "source").withColumn("rn", F.row_number().over(w))
    sizes_row = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n"))
        .agg(
            F.array_sort(F.collect_list(F.struct("source", "n"))).alias("_sz")
        )
    )
    # closed-form global position — no rangepartitioning/total sort:
    # every doc before (rn, source) in the interleave order is either a
    # doc of ANY source with a smaller rank (min caps exhausted
    # sources) or a doc of an earlier source at the same rank
    before_ranks = F.aggregate(
        F.col("_sz"),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc + F.least(F.col("rn").cast("bigint") - 1, s["n"]),
    )
    earlier_same_rank = F.size(
        F.filter(
            F.col("_sz"),
            lambda s: (s["source"] < F.col("source")) & (s["n"] >= F.col("rn")),
        )
    ).cast("bigint")
    return (
        ranked.crossJoin(F.broadcast(sizes_row))
        .select(
            "doc_id",
            "source",
            (before_ranks + earlier_same_rank).alias("position"),
        )
    )


# ---------------------------------------------------------------------------
# u17: weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_WS_K = 50  # sample size
# deterministic uniform in (0,1): first 12 md5 hex digits → [0, 16^12),
# +0.5 then divide — never exactly 0 or 1, so ln(u) is always finite
_WS_U_SQL = (
    "((('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)"
    " / 281474976710656.0)"
)


def weighted_sample_keys(key: Column, weight: Column) -> Column:
    """Efraimidis–Spirakis A-ES sort key: ln(u)/w with u a deterministic
    per-key uniform. Taking the k LARGEST keys draws a weighted sample
    without replacement where P(i in sample) scales with w_i — the
    one-pass, merge-friendly spelling of weighted reservoir sampling
    (Efraimidis & Spirakis 2006, Inf. Proc. Letters 97(5)).

    Map-only: each row's key depends only on its own (id, weight).
    At 100 TB the top-k by this key is a per-partition partial top-k
    merged on the driver (TakeOrderedAndProject) — no global sort, no
    shuffle of the corpus. Reference analog: the research pipeline
    samples k search tasks from a weighted plan
    (research_manager.py:464-472 fan-out; weights implicit in plan
    order) — this is that selection made explicit and reproducible.
    """
    u = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 12), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(281474976710656.0)  # 16^12
    return F.log(u) / weight


@REGISTRY.register(
    name="u17_weighted_sample",
    survey_ref="training-data (weighted sampling)",
    doc=f"weighted sample WITHOUT replacement, k={_WS_K}: quality-"
    "weighted document selection by the Efraimidis–Spirakis key "
    "ln(u)/w (u = deterministic md5 uniform, w = n_chars) — longer "
    "docs proportionally likelier, yet the draw is exactly "
    "reproducible on any partitioning and appends never evict prior "
    "picks with a fixed u. Plan: map-only key + TakeOrderedAndProject "
    "(per-partition partial top-k, no corpus shuffle/total sort).",
    oracle=f"""
        SELECT doc_id, source, n_chars,
               ROUND(LN({_WS_U_SQL}) / GREATEST(n_chars, 1), 6) AS es_key
        FROM documents
        ORDER BY LN({_WS_U_SQL}) / GREATEST(n_chars, 1) DESC, doc_id
        LIMIT {_WS_K}
    """,
)
def u17_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # GREATEST(w,1): an empty doc in a future fixture would otherwise
    # hit ANSI double-division-by-zero (weights are counts, never <1
    # when meaningful)
    es = weighted_sample_keys(F.col("doc_id"), F.greatest(F.col("n_chars"), F.lit(1)))
    return (
        docs.select("doc_id", "source", "n_chars", es.alias("_es"))
        .orderBy(F.col("_es").desc(), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "source", "n_chars", F.round("_es", 6).alias("es_key"))
    )


# ---------------------------------------------------------------------------
# u15: per-source quality-threshold calibration
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u15_quality_calibration",
    survey_ref="training-data (per-source filter calibration)",
    doc="calibrate a per-source quality cutoff to a 20% keep-rate: the "
    "p80 of the quality proxy (n_chars) WITHIN each source becomes "
    "that source's threshold, so one noisy crawl can't consume the "
    "whole quality budget. Output is the audit table: threshold, "
    "totals, kept count, realized keep-rate per source. Plan: one "
    "groupBy(source) agg (exact interpolated percentile) → broadcast "
    "thresholds → map-side conditional count. At 100 TB swap "
    "percentile() for percentile_approx() — a mergeable sketch with "
    "the same plan shape; exact keys the oracle here.",
    oracle="""
        WITH thr AS (
            SELECT source,
                   ROUND(QUANTILE_CONT(n_chars, 0.8), 4) AS threshold,
                   CAST(COUNT(*) AS BIGINT) AS n_total
            FROM documents GROUP BY source
        )
        SELECT d.source, t.threshold, t.n_total,
               CAST(COUNT(*) FILTER (WHERE d.n_chars >= t.threshold) AS BIGINT)
                   AS n_kept,
               ROUND(COUNT(*) FILTER (WHERE d.n_chars >= t.threshold)
                     / CAST(t.n_total AS DOUBLE), 4) AS keep_rate
        FROM documents d JOIN thr t ON d.source = t.source
        GROUP BY d.source, t.threshold, t.n_total
    """,
)
def u15_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    thr = docs.groupBy("source").agg(
        F.round(F.expr("percentile(n_chars, 0.8)"), 4).alias("threshold"),
        F.count("*").alias("n_total"),
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .groupBy("source", "threshold", "n_total")
        .agg(
            F.sum(F.when(F.col("n_chars") >= F.col("threshold"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "source",
            "threshold",
            "n_total",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_total").cast("double"), 4).alias(
                "keep_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# u18: repeat-aware upsampling (mixture rates above 1.0)
# ---------------------------------------------------------------------------

_UPSAMPLE_CAP = 4.0  # max epochs per source (overfitting guard)


@REGISTRY.register(
    name="u18_upsample_mix",
    survey_ref="training-data (upsampling / multi-epoch mixture)",
    doc="the other half of mixture application: u10b can only THIN a "
    "source (rate ≤ 1); high-quality small sources need rates ABOVE "
    "1 — seeing the corpus multiple times. Each source gets a "
    "deterministic rate in [0.5, 2.5] (0.5 + (src#%5)/2, capped at "
    f"{_UPSAMPLE_CAP} epochs — the standard repeat-cap guard); every "
    "doc emits floor(rate) copies plus one more iff its key-hash "
    "percentile falls under the fractional part, as (doc_id, source, "
    "copy_idx) rows. Map-only sequence-explode — expansion is bounded "
    "by the rate cap, no shuffle; retry-deterministic (hash, not "
    "rand()).",
    oracle=f"""
        WITH rated AS (
            SELECT doc_id, source,
                   LEAST(0.5 + (CAST(REGEXP_EXTRACT(source, 'src(\\d+)', 1)
                                     AS BIGINT) % 5) / 2.0,
                         {_UPSAMPLE_CAP}) AS rate
            FROM documents
        ), counted AS (
            SELECT doc_id, source,
                   CAST(FLOOR(rate) AS BIGINT)
                   + CASE WHEN {_HASH_PCT_SQL.format(key="doc_id")}
                               < (rate - FLOOR(rate)) * 100
                          THEN 1 ELSE 0 END AS n_copies
            FROM rated
        )
        SELECT doc_id, source, CAST(UNNEST(GENERATE_SERIES(1, n_copies)) AS BIGINT)
                   AS copy_idx
        FROM counted WHERE n_copies >= 1
    """,
)
def u18_upsample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    rate = F.least(
        F.lit(0.5)
        + (F.regexp_extract(F.col("source"), r"src(\d+)", 1).cast("bigint") % 5)
        / 2.0,
        F.lit(_UPSAMPLE_CAP),
    )
    frac = rate - F.floor(rate)
    n_copies = (
        F.floor(rate).cast("bigint")
        + F.when(hash_pct(F.col("doc_id")) < frac * 100, 1).otherwise(0)
    )
    counted = docs.select("doc_id", "source", n_copies.alias("n_copies"))
    return (
        counted.filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("n_copies"))).alias(
                "copy_idx"
            ),
        )
    )


# ---------------------------------------------------------------------------
# u19: token-exact packing with document splitting (no padding)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u19_packing_split",
    survey_ref="training-data (token-exact packing)",
    doc="u9 assigns each doc ONE (bin, offset) and lets the last doc "
    "of a bin overflow; real pretraining packs token-exact — a doc "
    "crossing a 2048-token boundary SPLITS, its tail continuing in "
    "the next bin, so every bin is exactly full and no padding tokens "
    "are wasted. Each doc at global token start S with n tokens emits "
    "one segment row per bin it touches: (bin_id, doc_offset, "
    "bin_offset, seg_len). Built on u9's two-phase prefix sum (no "
    "total-order exchange); the bin fan-out is a map-side "
    "sequence-explode bounded by ceil(n/2048)+1 segments per doc. The "
    "oracle spells the same segments from the single global window.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
            FROM documents
        ), pos AS (
            SELECT doc_id, n,
                   COALESCE(SUM(n) OVER (ORDER BY doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0) AS s
            FROM toks
        )
        SELECT doc_id,
               b AS bin_id,
               CAST(GREATEST(s, b * {PACK_BUDGET}) - s AS BIGINT) AS doc_offset,
               CAST(GREATEST(s, b * {PACK_BUDGET}) - b * {PACK_BUDGET}
                    AS BIGINT) AS bin_offset,
               CAST(LEAST(s + n, (b + 1) * {PACK_BUDGET})
                    - GREATEST(s, b * {PACK_BUDGET}) AS BIGINT) AS seg_len
        FROM pos,
             UNNEST(GENERATE_SERIES(CAST(s // {PACK_BUDGET} AS BIGINT),
                                    CAST((s + n - 1) // {PACK_BUDGET} AS BIGINT)))
                 AS t(b)
        WHERE n > 0
    """,
)
def u19_packing_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = doc_tokens(load_table(spark, "documents", sf_dir)).filter(F.col("n_tokens") > 0)
    packed = pack_positions(toks, order_col="doc_id")
    budget = F.lit(PACK_BUDGET).cast("bigint")
    s = F.col("bin_id") * budget + F.col("bin_offset")
    end = s + F.col("n_tokens")
    segs = packed.select(
        "doc_id",
        "n_tokens",
        s.alias("s"),
        F.explode(
            F.sequence((s / budget).cast("bigint"), ((end - 1) / budget).cast("bigint"))
        ).alias("b"),
    )
    seg_start = F.greatest(F.col("s"), F.col("b") * budget)
    seg_end = F.least(F.col("s") + F.col("n_tokens"), (F.col("b") + 1) * budget)
    return segs.select(
        "doc_id",
        F.col("b").alias("bin_id"),
        (seg_start - F.col("s")).alias("doc_offset"),
        (seg_start - F.col("b") * budget).alias("bin_offset"),
        (seg_end - seg_start).alias("seg_len"),
    )


# ---------------------------------------------------------------------------
# u20: quality deciles without a global NTILE
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u20_quality_deciles",
    survey_ref="training-data (quality calibration curve)",
    doc="the quality calibration curve: corpus documents bucketed into "
    "deciles of the quality proxy (n_chars) with per-decile doc/token "
    "counts and score stats — the table that turns 'keep the top X%' "
    "into a concrete threshold. NTILE(10) OVER (ORDER BY score) is a "
    "global sort (rangepartition funnel); instead the nine decile "
    "boundaries come from ONE exact-percentile agg, broadcast, and "
    "bucket assignment is a map-side filter count — u11's "
    "no-total-order discipline applied to ranking buckets. At 100 TB "
    "swap percentile() for percentile_approx (mergeable), same shape.",
    oracle="""
        WITH b AS (
            SELECT QUANTILE_CONT(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5,
                                           0.6, 0.7, 0.8, 0.9]) AS bs
            FROM documents
        ), assigned AS (
            SELECT d.doc_id,
                   d.n_chars,
                   CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens,
                   1 + LEN(LIST_FILTER(b.bs, x -> x < d.n_chars)) AS decile
            FROM documents d CROSS JOIN b
        )
        SELECT CAST(decile AS INT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               ROUND(AVG(n_chars), 2) AS mean_chars,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM assigned GROUP BY decile
    """,
)
def u20_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    bounds = docs.agg(
        F.expr(
            "percentile(n_chars, array(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))"
        ).alias("bs")
    )
    assigned = docs.crossJoin(F.broadcast(bounds)).select(
        "n_chars",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        (
            1 + F.size(F.filter(F.col("bs"), lambda x: x < F.col("n_chars")))
        ).alias("decile"),
    )
    return assigned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.avg("n_chars"), 2).alias("mean_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    ).withColumn("decile", F.col("decile").cast("int"))


# ---------------------------------------------------------------------------
# u21: length-bucketed dynamic batching
# ---------------------------------------------------------------------------

_BATCH_SIZE = 16  # sequences per batch


@REGISTRY.register(
    name="u21_length_batching",
    survey_ref="training-data (dynamic batching)",
    doc="length-bucketed batch construction (the fairseq/HF dynamic-"
    "batching rule): docs bucket by floor(log2(tokens)) so same-batch "
    "sequences have within-2× lengths, order by key-hash within the "
    f"band, and group {_BATCH_SIZE} per batch. Output is the batch "
    "manifest: per (band, batch) the doc count, the max length that "
    "sets the padded width, and padding_frac — the waste a naive "
    "unbucketed batcher pays on mixed lengths. Plan: map-side band "
    "assignment + u12's per-band window (bands are balanced strata, "
    "no skew) + one tiny batch-keyed agg; u19 is the zero-padding "
    "packing alternative when samples need not stay whole.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
            FROM documents
        ), banded AS (
            SELECT doc_id, n, CAST(FLOOR(LOG2(n)) AS INT) AS band
            FROM toks WHERE n > 0
        ), numbered AS (
            SELECT band, n,
                   CAST((ROW_NUMBER() OVER (PARTITION BY band
                         ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
                        // {_BATCH_SIZE} AS BIGINT) AS batch_idx
            FROM banded
        )
        SELECT band, batch_idx,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(n) AS BIGINT) AS padded_width,
               ROUND(1 - SUM(n) / CAST(COUNT(*) * MAX(n) AS DOUBLE), 4)
                   AS padding_frac
        FROM numbered GROUP BY band, batch_idx
    """,
)
def u21_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n")
    ).filter(F.col("n") > 0)
    banded = toks.withColumn("band", F.floor(F.log2("n")).cast("int"))
    w = W.partitionBy("band").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    numbered = banded.withColumn(
        "batch_idx",
        ((F.row_number().over(w) - 1) / _BATCH_SIZE).cast("bigint"),
    )
    return numbered.groupBy("band", "batch_idx").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.max("n").cast("bigint").alias("padded_width"),
        F.round(
            1 - F.sum("n") / (F.count("*") * F.max("n")).cast("double"), 4
        ).alias("padding_frac"),
    )


# ---------------------------------------------------------------------------
# u22: dedup-aware mixture planning
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u22_dedup_aware_mixture",
    survey_ref="training-data (mixture planning × dedup)",
    doc="mixture planning on DEDUPED token counts: duplicates inflate "
    "a source's apparent size, so budgeting rates from raw counts "
    "over-samples duplicate-heavy feeds — the classic mixture bug. "
    "The corpus is salted with d1's whitespace-mangled copies "
    "(doc_id%7==0 → +1e6) so inflation provably exists; canonical = "
    "min doc_id per normalized fingerprint, and sample_rate comes "
    "from the SHARED mixture_rates formula over canonical tokens "
    "only, reported next to the raw counts and the per-source "
    "inflation factor. One fp-keyed shuffle (d1's) + two tiny "
    "per-source aggs; the rate table broadcasts to u10b's map-side "
    "apply unchanged.",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, source, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, source, '  ' || UPPER(text) || '  '
            FROM documents WHERE doc_id % 7 = 0
        ), fp AS (
            SELECT doc_id, source,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
            FROM corpus
        ), canon AS (
            SELECT * FROM (
                SELECT doc_id, source, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
                FROM fp) t WHERE rn = 1
        ), raw_stats AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
                   CAST(SUM(n_tokens) AS BIGINT) AS tokens_raw
            FROM fp GROUP BY source
        ), canon_stats AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_canon,
                   CAST(SUM(n_tokens) AS BIGINT) AS tokens_canon
            FROM canon GROUP BY source
        ), tot AS (
            SELECT SUM(tokens_canon) AS total, COUNT(*) AS k FROM canon_stats
        )
        SELECT r.source, r.n_docs_raw, c.n_docs_canon,
               r.tokens_raw, c.tokens_canon,
               ROUND(r.tokens_raw / CAST(c.tokens_canon AS DOUBLE), 4)
                   AS inflation,
               ROUND(LEAST(1.0, ({MIXTURE_BUDGET_FRAC} * t.total / t.k)
                                / c.tokens_canon), 6) AS sample_rate
        FROM raw_stats r
        JOIN canon_stats c ON r.source = c.source
        CROSS JOIN tot t
    """,
)
def u22_dedup_aware_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    mangled = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        F.concat(F.lit("  "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    corpus = docs.select("doc_id", "source", "text").unionByName(mangled)
    # raw stats and the canonical window both read the fingerprinted
    # frame — persist so normalization+md5 run once (d4f393a pattern)
    fp = corpus.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        fingerprint(F.col("text")).alias("f"),
    ).transform(persist_once)
    w = W.partitionBy("f").orderBy("doc_id")
    canon = fp.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    raw_stats = fp.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_raw"),
        F.sum("n_tokens").cast("bigint").alias("tokens_raw"),
    )
    rates = mixture_rates(
        canon,
        tokens_col="n_tokens",
        extra_aggs=(F.count("*").cast("bigint").alias("n_docs_canon"),),
    )
    return (
        raw_stats.join(F.broadcast(rates), "source")
        .select(
            "source",
            "n_docs_raw",
            "n_docs_canon",
            "tokens_raw",
            F.col("src_tokens").alias("tokens_canon"),
            F.round(
                F.col("tokens_raw") / F.col("src_tokens").cast("double"), 4
            ).alias("inflation"),
            "sample_rate",
        )
    )


# ---------------------------------------------------------------------------
# u23: DSIR-style importance weights (domain-targeted data selection)
# ---------------------------------------------------------------------------

_DSIR_TARGET_LANG = "en"


@REGISTRY.register(
    name="u23_dsir_weights",
    survey_ref="training-data (domain-targeted selection; DSIR)",
    bench=True,
    doc="Data Selection via Importance Resampling (Xie et al. 2023), "
    "unigram edition: score every document by the log-likelihood "
    "ratio of its tokens under the TARGET domain's unigram LM (the "
    f"lang='{_DSIR_TARGET_LANG}' slice standing in for 'wiki-quality "
    "text') vs the RAW corpus LM, add-1 smoothed over the joint "
    "vocabulary. High weight = looks like the target domain; sampling "
    "proportional to it is the standard cheap alternative to training "
    "a classifier. ONE wordcount shuffle builds both LMs (conditional "
    "aggregation, single corpus pass), the vocab-sized ratio table "
    "broadcasts back onto the exploded tokens, and the per-doc sum "
    "keys on doc_id (uniform) — at 100 TB the corpus is never "
    "shuffled, only its token partials; the LM table is top-K-capped "
    "with an UNK floor like t19's.",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents
        ), freq AS (
            SELECT w,
                   COUNT(*) AS c_raw,
                   COUNT(*) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}') AS c_tgt
            FROM words GROUP BY w
        ), tot AS (
            SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt,
                   COUNT(*) AS v
            FROM freq
        ), ratio AS (
            SELECT w,
                   LN(((c_tgt + 1.0) / (n_tgt + v))
                      / ((c_raw + 1.0) / (n_raw + v))) AS llr
            FROM freq CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(SUM(llr), 4) AS dsir_weight
        FROM words JOIN ratio USING (w)
        GROUP BY doc_id
    """,
)
def u23_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_weights(load_table(spark, "documents", sf_dir))


def dsir_weights(docs: DataFrame, target_lang: str = _DSIR_TARGET_LANG) -> DataFrame:
    """u23's core over any (doc_id, lang, text) frame — shared with the
    composed selection pipeline."""
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    freq = words.groupBy("w").agg(
        F.count("*").alias("c_raw"),
        F.count(F.when(F.col("lang") == target_lang, 1)).alias("c_tgt"),
    )
    tot = freq.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v"),
    )
    llr = F.log(
        ((F.col("c_tgt") + 1.0) / (F.col("n_tgt") + F.col("v")))
        / ((F.col("c_raw") + 1.0) / (F.col("n_raw") + F.col("v")))
    )
    ratio = freq.join(F.broadcast(tot)).select("w", llr.alias("llr"))
    return (
        words.join(F.broadcast(ratio), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum("llr"), 4).alias("dsir_weight"),
        )
    )


# ---------------------------------------------------------------------------
# u25: dataset manifest — content-addressed split integrity
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="u25_dataset_manifest",
    survey_ref="training-data (dataset versioning / release manifest)",
    doc="content-addressed release manifest: per (source, split) — the "
    "u6 hash-split rule — row count, token total, and an ORDER-"
    "INDEPENDENT content digest (sum of per-row md5-derived 48-bit "
    "ints; commutative, so any partitioning/engine reproduces it). "
    "This is the row a dataset card pins so a retraining run can "
    "verify it read EXACTLY the bytes the paper trained on — Iceberg "
    "snapshots version files, the manifest versions CONTENT. One "
    "partial-agg scan, group key space = sources × 2.",
    oracle=f"""
        SELECT source,
               CASE WHEN {_HASH_PCT_SQL.format(key="doc_id")} < 80
                    THEN 'train' ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))::BIGINT)
                   AS BIGINT) AS content_digest
        FROM documents
        GROUP BY 1, 2
    """,
)
def u25_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    row_digest = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    split = F.when(hash_pct(F.col("doc_id")) < 80, "train").otherwise("test")
    return docs.groupBy("source", split.alias("split")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.sum(row_digest).cast("bigint").alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# u31: deterministic k-fold cross-validation splits
# ---------------------------------------------------------------------------

_KFOLD = 5


@REGISTRY.register(
    name="u31_kfold_splits",
    survey_ref="training-data (evaluation protocol); u5/u6 family",
    doc=f"{_KFOLD}-fold cross-validation assignment: every doc's fold "
    "is its key-hash mod k (u5's partition-layout-independent rule), "
    "and the output enumerates all (fold_id, role) memberships — one "
    "'val' row in its own fold, k−1 'train' rows elsewhere — so a CV "
    "harness joins this table instead of re-deriving splits (and two "
    "engines/retries can never disagree about membership). Map-only "
    f"with a bounded {_KFOLD}× fan-out; append-stable like every "
    "hash split here: new docs never move old ones between folds.",
    oracle=f"""
        WITH assigned AS (
            SELECT doc_id, source,
                   {_HASH_PCT_SQL.format(key="doc_id")} % {_KFOLD} AS own_fold
            FROM documents
        )
        SELECT doc_id, source,
               CAST(f.fold_id AS INT) AS fold_id,
               CASE WHEN f.fold_id = own_fold THEN 'val' ELSE 'train' END AS role
        FROM assigned,
             (SELECT UNNEST(GENERATE_SERIES(0, {_KFOLD - 1})) AS fold_id) f
    """,
)
def u31_kfold_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    own = (hash_pct(F.col("doc_id")) % _KFOLD).alias("own_fold")
    assigned = docs.select("doc_id", "source", own)
    return assigned.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(_KFOLD - 1))).alias("fold_id"),
        "own_fold",
    ).select(
        "doc_id",
        "source",
        F.col("fold_id").cast("int").alias("fold_id"),
        F.when(F.col("fold_id") == F.col("own_fold"), "val")
        .otherwise("train")
        .alias("role"),
    )


# ---------------------------------------------------------------------------
# u33: token-budget waterfilling with per-source caps
# ---------------------------------------------------------------------------

_WF_BUDGET = 10000.0  # tokens to allocate
_WF_CAP = 550.0  # per-source ceiling (5.5% of budget — binds on this fixture)


@REGISTRY.register(
    name="u33_budget_waterfill",
    survey_ref="training-data (mixture budgeting with caps); u10/u22's constrained form",
    doc="token-budget waterfilling: allocate a training budget across "
    "sources proportionally to their token mass, subject to a "
    "per-source ceiling (the anti-dominance cap every production "
    "mixture recipe carries); capped sources' excess re-distributes "
    "proportionally among the uncapped — the classic waterfill, "
    "unrolled THREE rounds with per-round 6dp rounding so the whole "
    "constrained optimizer is hash-oracled (f32/g1's fixed-unroll "
    "discipline; 3 rounds reaches fixpoint here, asserted by test). "
    "The corpus reduces to per-source token counts via ONE wordcount "
    "pass; every round after is a 1-row re-aggregation broadcast onto "
    "the sources-sized table.",
    oracle=f"""
        WITH src AS (
            SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) AS toks
            FROM documents GROUP BY source
        ), r1 AS (
            SELECT source, toks,
                   ROUND({_WF_BUDGET} * toks / (SELECT SUM(toks) FROM src), 6) AS a
            FROM src
        ), c1 AS (SELECT source, toks, a > {_WF_CAP} AS capped FROM r1),
        r2 AS (
            SELECT c.source, c.toks, c.capped,
                   CASE WHEN c.capped THEN {_WF_CAP}
                        ELSE ROUND(({_WF_BUDGET} - {_WF_CAP} *
                                    (SELECT COUNT(*) FROM c1 WHERE capped))
                                   * c.toks /
                                   (SELECT SUM(toks) FROM c1 WHERE NOT capped), 6)
                   END AS a
            FROM c1 c
        ), c2 AS (
            SELECT source, toks, capped OR a > {_WF_CAP} AS capped FROM r2
        ), r3 AS (
            SELECT c.source, c.toks, c.capped,
                   CASE WHEN c.capped THEN {_WF_CAP}
                        ELSE ROUND(({_WF_BUDGET} - {_WF_CAP} *
                                    (SELECT COUNT(*) FROM c2 WHERE capped))
                                   * c.toks /
                                   (SELECT SUM(toks) FROM c2 WHERE NOT capped), 6)
                   END AS a
            FROM c2 c
        )
        SELECT source, CAST(toks AS BIGINT) AS n_tokens, capped,
               ROUND(a, 4) AS alloc
        FROM r3 ORDER BY source
    """,
)
def u33_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # the ONE corpus-touching step; persist it — the 3-round unroll
    # references this 20-row table from seven branches, and without the
    # persist each branch re-runs the wordcount (plan audit showed 16
    # exchanges; the corpus must reduce exactly once at 100 TB)
    src = (
        docs.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).cast("double").alias("toks"))
        .transform(persist_once)
    )

    def alloc_round(frame: DataFrame) -> DataFrame:
        """One waterfill round: cap the flagged sources, share the rest
        of the budget among the unflagged proportionally (1-row re-agg
        broadcast — the sources table never leaves the executors)."""
        stats = frame.agg(
            F.sum(F.when(F.col("capped"), 1).otherwise(0)).alias("n_cap"),
            F.sum(F.when(~F.col("capped"), F.col("toks"))).alias("free_toks"),
        )
        return frame.crossJoin(F.broadcast(stats)).select(
            "source",
            "toks",
            "capped",
            F.when(F.col("capped"), F.lit(_WF_CAP))
            .otherwise(
                F.round(
                    (F.lit(_WF_BUDGET) - F.lit(_WF_CAP) * F.col("n_cap"))
                    * F.col("toks")
                    / F.col("free_toks"),
                    6,
                )
            )
            .alias("a"),
        )

    total = src.agg(F.sum("toks").alias("tt"))
    r1 = src.crossJoin(F.broadcast(total)).select(
        "source",
        "toks",
        F.round(F.lit(_WF_BUDGET) * F.col("toks") / F.col("tt"), 6).alias("a"),
    )
    c1 = r1.select("source", "toks", (F.col("a") > _WF_CAP).alias("capped"))
    r2 = alloc_round(c1)
    c2 = r2.select(
        "source", "toks", (F.col("capped") | (F.col("a") > _WF_CAP)).alias("capped")
    )
    r3 = alloc_round(c2)
    return r3.select(
        "source",
        F.col("toks").cast("bigint").alias("n_tokens"),
        "capped",
        F.round("a", 4).alias("alloc"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# u37: temporal train/test split (no-future-leakage protocol)
# ---------------------------------------------------------------------------

_TSPLIT_CUTOFF = "2024-01-22"  # train < cutoff <= test


@REGISTRY.register(
    name="u37_temporal_split",
    survey_ref="training-data (evaluation protocol); u6/u6b's time axis",
    doc="temporal train/test split manifest: events before the cutoff "
    "day train, on/after test — the protocol for any forecasting or "
    "next-event model, where u6's hash split would leak the future "
    "into training. Per split: volume, distinct users, day range; "
    "plus the two checks a reviewer asks for, computed IN-QUERY so "
    "the hash pins them: no_leakage (max train ts < min test ts — "
    "the split's defining property) and n_shared_users (temporal "
    "splits intentionally share users; the number is reported, not "
    "hidden — user-level generalization needs u6b's group split "
    "instead). One conditional-agg pass over the stream + a tiny "
    "distinct-user reduction; no shuffle carries event width.",
    oracle=f"""
        WITH tagged AS (
            SELECT CASE WHEN ts < TIMESTAMP '{_TSPLIT_CUTOFF} 00:00:00'
                        THEN 'train' ELSE 'test' END AS split,
                   ts, user_id
            FROM events
        ), per AS (
            SELECT split,
                   COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(CAST(MIN(ts) AS DATE) AS VARCHAR) AS first_day,
                   CAST(CAST(MAX(ts) AS DATE) AS VARCHAR) AS last_day
            FROM tagged GROUP BY split
        ), leak AS (
            SELECT MAX(CASE WHEN split = 'train' THEN ts END)
                   < MIN(CASE WHEN split = 'test' THEN ts END) AS no_leakage
            FROM tagged
        ), shared AS (
            SELECT COUNT(*) AS n_shared_users FROM (
                SELECT user_id FROM tagged GROUP BY user_id
                HAVING COUNT(DISTINCT split) = 2)
        )
        SELECT p.split, CAST(p.n_events AS BIGINT) AS n_events,
               CAST(p.n_users AS BIGINT) AS n_users,
               p.first_day, p.last_day,
               l.no_leakage,
               CAST(s.n_shared_users AS BIGINT) AS n_shared_users
        FROM per p CROSS JOIN leak l CROSS JOIN shared s
        ORDER BY p.split
    """,
)
def u37_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import load_table as _lt

    ev = _lt(spark, "events", sf_dir)
    cutoff = F.lit(f"{_TSPLIT_CUTOFF} 00:00:00").cast("timestamp")
    tagged = ev.select(
        F.when(F.col("ts") < cutoff, "train").otherwise("test").alias("split"),
        "ts",
        "user_id",
    )
    per = tagged.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.min(F.col("ts").cast("date")).cast("string").alias("first_day"),
        F.max(F.col("ts").cast("date")).cast("string").alias("last_day"),
    )
    leak = tagged.agg(
        (
            F.max(F.when(F.col("split") == "train", F.col("ts")))
            < F.min(F.when(F.col("split") == "test", F.col("ts")))
        ).alias("no_leakage")
    )
    shared = (
        tagged.groupBy("user_id")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") == 2)
        .agg(F.count("*").cast("bigint").alias("n_shared_users"))
    )
    return (
        per.crossJoin(F.broadcast(leak))
        .crossJoin(F.broadcast(shared))
        .select(
            "split", "n_events", "n_users", "first_day", "last_day",
            "no_leakage", "n_shared_users",
        )
        .orderBy("split")
    )


# --- u38: temperature-scaled mixture (the multilingual sampling law) ----

_U38_TEMPS = (1.0, 2.0, 5.0)  # T=1 proportional ... T→inf uniform


@REGISTRY.register(
    name="u38_temperature_resample",
    survey_ref="training-data (mixture design); u10 plans a UNIFORM "
    "share — this is the temperature law multilingual pretraining "
    "actually uses (p_i ∝ n_i^(1/T))",
    doc="temperature-scaled source mixture: for each temperature in "
    f"{_U38_TEMPS}, sampling probability p_i ∝ n_i^(1/T) over source "
    "token counts — T=1 is proportional (big sources dominate), "
    "higher T flattens toward uniform, the dial every multilingual / "
    "multi-corpus pretraining mix is quoted in (mT5's alpha=1/T). "
    "Output per (T, source): the probability, the effective epochs "
    "over that source at a 50%-of-corpus budget (budget*p_i / n_i — "
    "the oversampling-factor readout that warns when a small source "
    "would repeat too often), and an in-query row-stochasticity "
    "check. ONE source-keyed wordcount shuffle; the temperature "
    "fan-out is a map-side explode over the tiny per-source table.",
    oracle=f"""
        WITH per_source AS (
            SELECT source,
                   CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) AS n_tokens
            FROM documents GROUP BY source
        ), fan AS (
            SELECT s.source, s.n_tokens, t.temp,
                   POW(s.n_tokens, 1.0 / t.temp) AS w
            FROM per_source s
            CROSS JOIN (SELECT UNNEST({list(_U38_TEMPS)}) AS temp) t
        ), norm AS (
            SELECT temp, SUM(w) AS z, SUM(n_tokens) AS total
            FROM fan GROUP BY temp
        )
        SELECT f.temp, f.source,
               CAST(f.n_tokens AS BIGINT) AS n_tokens,
               ROUND(f.w / n.z, 6) AS p,
               ROUND({MIXTURE_BUDGET_FRAC} * n.total * (f.w / n.z)
                     / f.n_tokens, 4) AS effective_epochs
        FROM fan f JOIN norm n USING (temp)
        ORDER BY f.temp, f.source
    """,
)
def u38_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    per_source = (
        docs.select(
            "source", F.size(F.split("text", " ")).cast("double").alias("n_tokens")
        )
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("n_tokens"))
    )
    fan = per_source.select(
        "source",
        "n_tokens",
        F.explode(F.array(*[F.lit(t) for t in _U38_TEMPS])).alias("temp"),
    ).withColumn("w", F.pow("n_tokens", 1.0 / F.col("temp")))
    norm = fan.groupBy("temp").agg(
        F.sum("w").alias("z"), F.sum("n_tokens").alias("total")
    )
    p = F.col("w") / F.col("z")
    return (
        fan.join(F.broadcast(norm), "temp")
        .select(
            "temp",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(p, 6).alias("p"),
            F.round(
                F.lit(MIXTURE_BUDGET_FRAC) * F.col("total") * p / F.col("n_tokens"),
                4,
            ).alias("effective_epochs"),
        )
        .orderBy("temp", "source")
    )


# --- u39: largest-remainder (Hamilton) budget apportionment -------------

_U39_BUDGET = 200  # documents to allocate (< every fixture corpus: an
# apportionment larger than the population is infeasible by definition —
# the first cut used 1000 against the 500-doc corpus and u41 exposed it)


@REGISTRY.register(
    name="u39_hamilton_allocation",
    survey_ref="training-data (exact-n sampling prep); u10/u38 emit "
    "RATES — when the contract is an exact total (a fixed-size eval "
    "set, a fixed labeling budget), rounding rates misses the total "
    "and this is the apportionment that never does",
    doc=f"largest-remainder (Hamilton) apportionment of an exact "
    f"{_U39_BUDGET}-doc budget across sources proportional to corpus "
    "share: each source gets FLOOR(quota), and the leftover seats go "
    "to the largest fractional remainders (ties to source name) — "
    "allocations sum to the budget EXACTLY, proven in-query "
    "(sum_check rides every row). Naive ROUND(quota) drifts by "
    "±sources/2 docs; a labeling invoice can't. One source-keyed "
    "count shuffle; the apportionment is a window over the "
    "O(sources) table.",
    oracle=f"""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
            FROM documents GROUP BY source
        ), quota AS (
            SELECT source, n,
                   n * {_U39_BUDGET} / SUM(n) OVER () AS q
            FROM counts
        ), based AS (
            SELECT source, n, q,
                   CAST(FLOOR(q) AS BIGINT) AS base,
                   q - FLOOR(q) AS rem,
                   CAST({_U39_BUDGET} - SUM(CAST(FLOOR(q) AS BIGINT)) OVER ()
                       AS BIGINT) AS leftover
            FROM quota
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr
            FROM based
        ), alloc AS (
            SELECT source, CAST(n AS BIGINT) AS n_docs,
                   ROUND(q, 4) AS quota,
                   base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                       AS allocated
            FROM ranked
        )
        SELECT source, n_docs, quota, CAST(allocated AS BIGINT) AS allocated,
               CAST(SUM(allocated) OVER () AS BIGINT) = {_U39_BUDGET}
                   AS sum_check
        FROM alloc ORDER BY source
    """,
)
def u39_hamilton_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hamilton_allocation(load_table(spark, "documents", sf_dir))


def hamilton_allocation(docs: DataFrame) -> DataFrame:
    """u39's per-source apportionment rows; u41 executes them."""
    from pyspark.sql import Window as W

    counts = docs.groupBy("source").agg(F.count("*").cast("double").alias("n"))
    # O(sources) table from here on — the unpartitioned windows run
    # over a frame the size of the source list, never the corpus
    w_all = W.partitionBy()
    quota = counts.select(
        "source", "n", (F.col("n") * _U39_BUDGET / F.sum("n").over(w_all)).alias("q")
    )
    based = quota.select(
        "source",
        "n",
        "q",
        F.floor("q").cast("bigint").alias("base"),
        (F.col("q") - F.floor("q")).alias("rem"),
        (F.lit(_U39_BUDGET) - F.sum(F.floor("q").cast("bigint")).over(w_all))
        .cast("bigint")
        .alias("leftover"),
    )
    ranked = based.withColumn(
        "rr", F.row_number().over(W.orderBy(F.desc("rem"), F.asc("source")))
    )
    alloc = ranked.select(
        "source",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round("q", 4).alias("quota"),
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).alias("allocated"),
    )
    return alloc.select(
        "source",
        "n_docs",
        "quota",
        F.col("allocated").cast("bigint").alias("allocated"),
        (F.sum("allocated").over(w_all).cast("bigint") == _U39_BUDGET).alias(
            "sum_check"
        ),
    ).orderBy("source")


# --- u40: content-addressed corpus version diff --------------------------


@REGISTRY.register(
    name="u40_corpus_version_diff",
    survey_ref="training-data (dataset versioning); u25 manifests ONE "
    "version, m8 diffs relational snapshots by KEY — a corpus diff "
    "must be CONTENT-addressed, because a re-crawled doc keeps its "
    "id while its text silently changes",
    doc="dataset-version diff on content fingerprints: v2 is derived "
    "in-query from the corpus (docs with doc_id%7==3 are DROPPED, "
    "doc_id%11==5 have a token appended — t20's planted-mutation "
    "convention), and the diff classifies every doc_id: unchanged "
    "(same md5), modified (same id, different md5), removed, added "
    "— with per-class counts and the modified/removed rates a "
    "retraining decision reads ('5% of the corpus changed under us' "
    "is a different world from '5% new docs appended'). One "
    "full-outer join on doc_id over (id, fp) projections — "
    "fingerprints travel, text never does.",
    oracle="""
        WITH v1 AS (
            SELECT doc_id, MD5(text) AS fp FROM documents
        ), v2 AS (
            SELECT doc_id,
                   MD5(CASE WHEN doc_id % 11 = 5 THEN text || ' appended'
                            ELSE text END) AS fp
            FROM documents WHERE doc_id % 7 <> 3
        ), classed AS (
            SELECT CASE
                       WHEN a.doc_id IS NULL THEN 'added'
                       WHEN b.doc_id IS NULL THEN 'removed'
                       WHEN a.fp = b.fp THEN 'unchanged'
                       ELSE 'modified'
                   END AS status
            FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
        ), tot AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM classed
        )
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(COUNT(*) / t.n, 6) AS share
        FROM classed CROSS JOIN tot t
        GROUP BY status, t.n ORDER BY status
    """,
)
def u40_corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    v1 = docs.select("doc_id", F.md5("text").alias("fp"))
    v2 = docs.filter(F.col("doc_id") % 7 != 3).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 5, F.concat(F.col("text"), F.lit(" appended"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    a = v1.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = v2.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    joined = a.join(b, a.id_a == b.id_b, "full_outer")
    status = (
        F.when(F.col("id_a").isNull(), "added")
        .when(F.col("id_b").isNull(), "removed")
        .when(F.col("fp_a") == F.col("fp_b"), "unchanged")
        .otherwise("modified")
    )
    classed = joined.select(status.alias("status"))
    tot = classed.agg(F.count("*").cast("double").alias("n"))
    return (
        classed.groupBy("status")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "status",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n"), 6).alias("share"),
        )
        .orderBy("status")
    )


# --- u41: exact-n stratified sample (u39's allocation, executed) ---------


@REGISTRY.register(
    name="u41_exact_stratified_sample",
    survey_ref="training-data (exact-n sampling); u39 PLANS the "
    "apportionment — this EXECUTES it: exactly `allocated` docs per "
    "source by deterministic hash rank, total exactly the budget",
    doc="the Hamilton allocation realized: within each source, docs "
    "rank by md5(doc_id) (u5's deterministic-uniform trick) and the "
    "top `allocated` survive — per source the sampled count EQUALS "
    "the u39 plan and the grand total equals the budget exactly, "
    "both re-derived in-query from the same arithmetic (shared "
    "formula, not a copied constant — drift in either side breaks "
    "the hash). Output: per-source plan vs realized + the exactness "
    "verdicts. One source-keyed count + one source-partitioned rank "
    "window over the corpus; at 100 TB the rank window is the same "
    "per-stratum shape u12 already prices.",
    oracle=f"""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
            FROM documents GROUP BY source
        ), quota AS (
            SELECT source, n, n * {_U39_BUDGET} / SUM(n) OVER () AS q
            FROM counts
        ), based AS (
            SELECT source, q, CAST(FLOOR(q) AS BIGINT) AS base,
                   q - FLOOR(q) AS rem,
                   CAST({_U39_BUDGET} - SUM(CAST(FLOOR(q) AS BIGINT)) OVER ()
                       AS BIGINT) AS leftover
            FROM quota
        ), alloc AS (
            SELECT source,
                   base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC,
                                                       source) <= leftover
                               THEN 1 ELSE 0 END AS allocated
            FROM based
        ), ranked AS (
            SELECT d.source, d.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY d.source
                       ORDER BY MD5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
                       AS rn
            FROM documents d
        ), sampled AS (
            SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_sampled
            FROM ranked r JOIN alloc a ON a.source = r.source
            WHERE r.rn <= a.allocated
            GROUP BY r.source
        )
        SELECT a.source,
               CAST(a.allocated AS BIGINT) AS allocated,
               s.n_sampled,
               a.allocated = s.n_sampled AS per_source_exact,
               CAST(SUM(s.n_sampled) OVER () AS BIGINT) = {_U39_BUDGET}
                   AS total_exact
        FROM alloc a JOIN sampled s USING (source)
        ORDER BY a.source
    """,
)
def u41_exact_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    # the u39 plan, re-derived (shared arithmetic, not a copied table)
    alloc = hamilton_allocation(docs).select("source", "allocated")
    w_rank = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select(
        "source", "doc_id", F.row_number().over(w_rank).alias("rn")
    )
    sampled = (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("rn") <= F.col("allocated"))
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_sampled"))
    )
    w_all = W.partitionBy()
    return (
        alloc.join(sampled, "source")
        .select(
            "source",
            F.col("allocated").cast("bigint").alias("allocated"),
            "n_sampled",
            (F.col("allocated") == F.col("n_sampled")).alias("per_source_exact"),
            (F.sum("n_sampled").over(w_all).cast("bigint") == _U39_BUDGET).alias(
                "total_exact"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# U46: license propagation through sequence packing (compliance lineage)
# ---------------------------------------------------------------------------

_LICENSE_NAMES = ["permissive", "attribution", "restricted"]


def _license_tier_sql(src: str) -> str:
    """Deterministic source→tier map (md5 bucket; a real pipeline joins
    a license dim — the propagation plan is identical)."""
    return f"(('0x' || SUBSTR(MD5({src}), 1, 2))::INT % 3)"


@REGISTRY.register(
    name="u46_license_propagation",
    survey_ref="training-data (compliance lineage; u9 ∘ governance)",
    doc="license propagation through u9's sequence packing: every "
    "packed 2048-token training bin inherits the MOST RESTRICTIVE "
    "license among the docs that touch it — and docs SPAN bins "
    "(start offset + length crosses the boundary), which is exactly "
    "the case naive per-bin tagging silently gets wrong and the "
    "reason compliance must propagate through the PACKER, not the "
    "corpus. Per bin: docs touching, max tier, license name, binding "
    "source (deterministic max-struct tie-break). Tiers come from a "
    "deterministic md5 bucket of source (a real pipeline joins a "
    "license dim; same plan). Shape: u9's two-phase prefix sum + a "
    "bounded explode (spanned bins per doc = len/budget + 1) + one "
    "bin-keyed partial agg; oracle composes u9's window SQL verbatim "
    "so packer and propagation can't drift.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, source,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ), packed AS (
            SELECT doc_id, source, n_tokens,
                   CAST((SUM(n_tokens) OVER w - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id,
                   CAST((SUM(n_tokens) OVER w - n_tokens) % {PACK_BUDGET} AS BIGINT) AS bin_offset
            FROM toks
            WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        ), touched AS (
            SELECT UNNEST(GENERATE_SERIES(bin_id,
                       (bin_id * {PACK_BUDGET} + bin_offset + n_tokens - 1) // {PACK_BUDGET}))
                       AS bin_id,
                   doc_id, source,
                   {_license_tier_sql('source')} AS tier
            FROM packed
        )
        SELECT bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MAX(tier) AS INT) AS max_tier,
               ['permissive', 'attribution', 'restricted'][MAX(tier) + 1] AS license,
               MAX(CASE WHEN tier = mx THEN source END) AS binding_source
        FROM (SELECT *, MAX(tier) OVER (PARTITION BY bin_id) AS mx FROM touched)
        GROUP BY bin_id
    """,
)
def u46_license_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = doc_tokens(load_table(spark, "documents", sf_dir))
    # source rides along from the token frame: no packed ⋈ documents re-join
    packed = pack_positions(toks, order_col="doc_id")
    end_bin = (
        F.col("bin_id") * PACK_BUDGET + F.col("bin_offset") + F.col("n_tokens") - 1
    ) / PACK_BUDGET
    tier = (
        F.conv(F.substring(F.md5(F.encode("source", "UTF-8")), 1, 2), 16, 10).cast("int")
        % 3
    )
    touched = packed.select(
        F.explode(
            F.sequence(F.col("bin_id"), F.floor(end_bin).cast("bigint"))
        ).alias("bin_id"),
        "doc_id",
        "source",
        tier.alias("tier"),
    )
    names = F.array(*[F.lit(n) for n in _LICENSE_NAMES])
    return (
        touched.groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("tier").cast("int").alias("max_tier"),
            F.max(F.struct("tier", "source")).alias("_b"),
        )
        .select(
            "bin_id",
            "n_docs",
            "max_tier",
            F.element_at(names, F.col("max_tier") + 1).alias("license"),
            F.col("_b.source").alias("binding_source"),
        )
    )


# ---------------------------------------------------------------------------
# u47: in-context packing — related documents adjacent in the pack order
# ---------------------------------------------------------------------------

from ai_iceberg_demo_spark.vector.clustering import (  # noqa: E402
    _assign_sql,
    kmeans_assign,
    seed_centroids,
)


def _u47_oracle() -> str:
    """DuckDB replay: v11's assignment CTEs + the one-window spelling
    of the bucket-major rank and the two-phase prefix sum."""
    return f"""
        WITH {_assign_sql("embeddings")},
        asg AS (
            SELECT vec_id AS doc_id, cell_id FROM ranked WHERE rn = 1
        ), toks AS (
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ), ordered AS (
            SELECT t.doc_id, CAST(a.cell_id AS BIGINT) AS cell_id, t.n_tokens,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY a.cell_id,
                                MD5('icp:' || CAST(t.doc_id AS VARCHAR)),
                                t.doc_id) - 1 AS BIGINT) AS position
            FROM toks t JOIN asg a USING (doc_id)
        )
        SELECT doc_id, cell_id, n_tokens, position,
               CAST((SUM(n_tokens) OVER w - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id,
               CAST((SUM(n_tokens) OVER w - n_tokens) % {PACK_BUDGET} AS BIGINT) AS bin_offset
        FROM ordered
        WINDOW w AS (ORDER BY position ROWS UNBOUNDED PRECEDING)
    """


@REGISTRY.register(
    name="u47_incontext_packing",
    survey_ref="training-data (batch packing; the semantic ordering "
    "tier above u9's doc_id order — In-Context Pretraining, Shi et "
    "al. 2023: packing related documents into the same context "
    "window teaches cross-document attention)",
    doc="in-context packing: documents are laid into u9's fixed "
    "2048-token bins in (k-means cell, md5(doc_id), doc_id) order "
    "instead of raw doc_id order, so semantically related documents "
    "(same embedding cluster, v11's deterministic seed assignment) "
    "become ADJACENT in the packed training sequences while order "
    "within a cluster stays hash-shuffled (no length or ingest-time "
    "bias inside a context window). Output: (doc_id, cell_id, "
    "n_tokens, position, bin_id, bin_offset). Semantically the "
    "position is ONE global ORDER BY (cell, hash, id) row_number and "
    "the bins are ONE running sum — both computed bucket-major "
    "instead (u11's trick): (cell, first-hex-digit) splits the order "
    "into <= k*16 contiguous buckets, per-bucket windows rank "
    "locally in parallel, and the <=128-row bucket-count table "
    "cumsums into broadcast offsets — bit-identical to the "
    "one-window spelling because lexicographic md5 order IS "
    "(prefix, remainder) order; the bin layout then reuses "
    "pack_positions' two-phase distributed prefix sum over the "
    "dense positions. The documents⋈embeddings id join is corpus × "
    "corpus — shuffle_hash per the d13 rule; the centroid table "
    "(k=8) and the bucket offsets (<=128 rows) are the only "
    "broadcasts, both corpus-independent by construction.",
    oracle=_u47_oracle(),
)
def u47_incontext_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = doc_tokens(load_table(spark, "documents", sf_dir))
    return incontext_packing(toks, load_table(spark, "embeddings", sf_dir))


def incontext_packing(toks: DataFrame, embs: DataFrame) -> DataFrame:
    """u47's rows over doc_tokens' frame and the embeddings table."""
    from pyspark.sql import Window as W

    asg = kmeans_assign(embs, seed_centroids(embs)).select(
        F.col("vec_id").alias("doc_id"), F.col("cell_id").cast("bigint").alias("cell_id")
    )
    j = toks.join(asg.hint("shuffle_hash"), "doc_id").select(
        "doc_id",
        "cell_id",
        "n_tokens",
        F.md5(F.concat(F.lit("icp:"), F.col("doc_id").cast("string"))).alias("_h"),
    )
    j = j.withColumn("_b", F.substring("_h", 1, 1)).transform(persist_once)
    w_local = W.partitionBy("cell_id", "_b").orderBy("_h", "doc_id")
    ranked = j.withColumn("_rn", F.row_number().over(w_local))
    counts = j.groupBy("cell_id", "_b").agg(F.count("*").alias("_c"))
    w_off = W.orderBy("cell_id", "_b").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "cell_id", "_b", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    positioned = (
        ranked.join(F.broadcast(offsets), ["cell_id", "_b"])
        .withColumn("position", (F.col("_off") + F.col("_rn") - 1).cast("bigint"))
        .select("doc_id", "cell_id", "n_tokens", "position")
        .transform(persist_once)
    )
    return pack_positions(positioned, order_col="position").select(
        "doc_id", "cell_id", "n_tokens", "position", "bin_id", "bin_offset"
    )



# ---------------------------------------------------------------------------
# pipeline_packing_card: the packing-strategy decision card
# ---------------------------------------------------------------------------


def _packing_card_oracle() -> str:
    """Composes the three packers' registered SQL verbatim (the
    governance-card discipline) so the card can never desync from
    the strategies it compares."""
    u9 = REGISTRY.specs["u9_sequence_packing"].oracle
    u19 = REGISTRY.specs["u19_packing_split"].oracle
    u47 = REGISTRY.specs["u47_incontext_packing"].oracle
    return f"""
        SELECT family, metric, value FROM (
            SELECT 'overflow' AS family, 'n_docs' AS metric,
                   CAST(COUNT(*) AS DOUBLE) AS value FROM ({u9})
            UNION ALL
            SELECT 'overflow', 'n_bins',
                   CAST(MAX(bin_id) + 1 AS DOUBLE) FROM ({u9})
            UNION ALL
            SELECT 'overflow', 'boundary_crossers',
                   CAST(SUM(CASE WHEN bin_offset + n_tokens > {PACK_BUDGET}
                                 THEN 1 ELSE 0 END) AS DOUBLE) FROM ({u9})
            UNION ALL
            SELECT 'overflow', 'total_tokens',
                   CAST(SUM(n_tokens) AS DOUBLE) FROM ({u9})
            UNION ALL
            SELECT 'exact_split', 'n_docs',
                   CAST(COUNT(DISTINCT doc_id) AS DOUBLE) FROM ({u19})
            UNION ALL
            SELECT 'exact_split', 'n_bins',
                   CAST(MAX(bin_id) + 1 AS DOUBLE) FROM ({u19})
            UNION ALL
            SELECT 'exact_split', 'n_segments',
                   CAST(COUNT(*) AS DOUBLE) FROM ({u19})
            UNION ALL
            SELECT 'exact_split', 'split_docs',
                   CAST(SUM(CASE WHEN segs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
            FROM (SELECT doc_id, COUNT(*) AS segs FROM ({u19}) GROUP BY doc_id)
            UNION ALL
            SELECT 'incontext', 'n_bins',
                   CAST(MAX(bin_id) + 1 AS DOUBLE) FROM ({u47})
            UNION ALL
            SELECT 'incontext', 'boundary_crossers',
                   CAST(SUM(CASE WHEN bin_offset + n_tokens > {PACK_BUDGET}
                                 THEN 1 ELSE 0 END) AS DOUBLE) FROM ({u47})
            UNION ALL
            SELECT 'incontext', 'same_cell_adjacency',
                   ROUND(AVG(CASE WHEN a.cell_id = b.cell_id
                                  THEN 1.0 ELSE 0.0 END) + 0.0, 6)
            FROM ({u47}) a JOIN ({u47}) b ON b.position = a.position + 1
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_packing_card",
    survey_ref="training-data (composed: u9 + u19 + u47 — the "
    "packing-strategy decision card; pipeline_graph_quality's "
    "discipline applied to the batch-construction family)",
    doc="the packing-strategy report in ONE long-format table "
    "(family, metric, value): the overflow packer (u9 — zero "
    "padding, docs cross bin boundaries), the exact-split packer "
    "(u19 — zero padding, zero crossing, docs fragment instead) and "
    "the in-context packer (u47 — u9's layout in cluster-major "
    "order) side by side on the axes that decide between them: bin "
    "count, boundary-crossing docs, fragment count, and u47's "
    "same-cell adjacency share. This is the table a pretraining "
    "lead reads to pick the batch constructor: crossing pollutes "
    "attention, splitting loses long-range structure, adjacency "
    "buys cross-document attention. Oracle composes the three "
    "registered SQL strings verbatim; the Spark side builds one token "
    "frame and one doc_id-order packing, shared by the overflow and "
    "exact-split rows, and reduces each strategy to summary "
    "aggregates — u47's cell-major positions make the same-cell "
    "adjacency share (n - distinct cells) / (n - 1), read off the same "
    "aggregate as its bin count, with no position self-join.",
    oracle=_packing_card_oracle(),
)
def pipeline_packing_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = doc_tokens(load_table(spark, "documents", sf_dir))
    packed = pack_positions(toks, order_col="doc_id")
    n_bins = (F.max("bin_id") + 1).cast("double").alias("n_bins")
    crossers = (
        F.sum(F.when(F.col("bin_offset") + F.col("n_tokens") > PACK_BUDGET, 1).otherwise(0))
        .cast("double")
        .alias("boundary_crossers")
    )
    over = packed.agg(
        F.count("*").cast("double").alias("n_docs"),
        n_bins,
        crossers,
        F.sum("n_tokens").cast("double").alias("total_tokens"),
    )
    # u19 cuts a non-empty doc into one segment per bin from its first
    # token's to its last token's, and empty docs move no start, so its
    # summary comes off the same packing without the explode
    last_bin = (
        (F.col("bin_id") * PACK_BUDGET + F.col("bin_offset") + F.col("n_tokens") - 1)
        / PACK_BUDGET
    ).cast("bigint")
    segs = last_bin - F.col("bin_id") + 1
    exact = packed.filter(F.col("n_tokens") > 0).agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.max(last_bin) + 1).cast("double").alias("n_bins"),
        F.sum(segs).cast("double").alias("n_segments"),
        F.sum(F.when(segs > 1, 1).otherwise(0)).cast("double").alias("split_docs"),
    )
    # u47 ranks positions cell-major, so of its n - 1 adjacent pairs
    # exactly (distinct cells - 1) cross a cell boundary: the adjacency
    # share is one aggregate, not a position self-join
    inc = incontext_packing(toks, load_table(spark, "embeddings", sf_dir)).agg(
        n_bins,
        crossers,
        F.expr(
            "CASE WHEN count(*) > 1 THEN round((count(*) - count(DISTINCT cell_id))"
            " / (count(*) - 1) + 0.0, 6) END AS same_cell_adjacency"
        ),
    )
    out = (
        long_metrics(over, "overflow", ["n_docs", "n_bins", "boundary_crossers", "total_tokens"])
        .unionAll(
            long_metrics(exact, "exact_split", ["n_docs", "n_bins", "n_segments", "split_docs"])
        )
        .unionAll(
            long_metrics(inc, "incontext", ["n_bins", "boundary_crossers", "same_cell_adjacency"])
        )
    )
    return out.orderBy("family", "metric")
