"""Corpus-curation pipeline — the training-data funnel, end to end.

The single most common 100 TB job this engine exists for: take a raw
document corpus and produce the deduplicated, language-filtered,
quality-filtered slice that feeds tokenization. Each stage exists as
its own oracle-checked operator (t3 langid, t2 quality, t4/d1b
fingerprint dedup, t1 token counts); this module composes them into
ONE declarative plan so Catalyst sees the whole funnel:

- the langid + quality predicates collapse into the same scan
  (PushedFilters / single WholeStageCodegen span — no staging tables
  between stages, which is the difference between this and the
  airflow-style stage-per-table pipelines it replaces);
- the only shuffle is the fingerprint groupBy that picks the
  canonical survivor (min doc_id per fp) — dedup is the one stage
  that genuinely needs data movement;
- survivors carry their audit columns (quality, token count) out of
  the same plan, so the downstream tokenizer reads one table.

The corpus is deterministically "redelivered" (mangled copies of
doc_id%7==0, d1's pattern) so the dedup stage provably fires in tests
and oracle runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.functions.text import (
    _BPE_REGEX,
    _HTML_FRAME_SQL,
    _HTML_STRIP_SQL,
    bpe_token_count,
    decontamination,
    fingerprint,
    html_frame_col,
    html_strip_col,
    quality_score,
)
from ai_iceberg_demo_spark.operators.sampling import (
    _SHUFFLE_EPOCH,
    MIXTURE_BUDGET_FRAC,
    PACK_BUDGET,
    doc_tokens,
    epoch_shuffle_positions,
    hash_pct,
    mixture_rates,
    pack_positions,
)
from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, long_metrics, persist_once

REGISTRY = Registry()

QUALITY_MIN = 0.8
_ERASE_KEY = 7  # the data subject (s12's _SUBJECT_KEY)


def curate_oracle_sql(src: str) -> str:
    """DuckDB spelling of ``curate()`` over relation ``src`` — the
    scored→kept→canonical-per-fingerprint chain, shared by
    pipeline_curation (mangled-redelivery corpus) and
    pipeline_incremental_curation (plain documents) so the two oracles
    can never drift from one another. Emits the WITH-clause tail:
    callers prepend ``WITH`` (plus their own CTEs and a comma)."""
    return f"""scored AS (
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp,
                   0.6 * LEAST(LENGTH(text) / 400.0, 1.0)
                       + 0.4 * (CASE WHEN
                            (CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                               / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1))
                              BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_REGEX}')) AS BIGINT) AS n_bpe_tokens,
                   CASE WHEN text LIKE '%the %' OR text LIKE 'the %' THEN 'en'
                        ELSE 'und' END AS lang_guess
            FROM {src}
        ), kept AS (
            SELECT * FROM scored WHERE lang_guess = 'en' AND quality >= {QUALITY_MIN}
        ), ranked AS (
            SELECT fp, doc_id, quality, n_bpe_tokens,
                   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept
        )
        SELECT fp, doc_id, quality, n_bpe_tokens FROM ranked WHERE rn = 1
    """


def curate(docs: DataFrame) -> DataFrame:
    """langid → quality → canonical-per-fingerprint over any corpus with
    (doc_id, text). Returns the surviving rows with audit columns."""
    scored = docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        quality_score(F.col("text")).alias("quality"),
        bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
        F.when(
            F.col("text").contains("the ") | F.col("text").startswith("the "), "en"
        ).otherwise("und").alias("lang_guess"),
    )
    kept = scored.filter((F.col("lang_guess") == "en") & (F.col("quality") >= QUALITY_MIN))
    # one shuffle: canonical survivor per fingerprint via min-struct
    # (doc_id is the struct's first field, so min = lowest doc_id; no
    # window, map-side partials)
    return (
        kept.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "quality", "n_bpe_tokens")).alias("s"))
        .select("fp", "s.doc_id", "s.quality", "s.n_bpe_tokens")
    )


@REGISTRY.register(
    name="pipeline_curation",
    survey_ref="training-data (funnel: t3→t2→d1b→t1)",
    doc="the corpus-curation funnel as one plan: language filter + "
    "quality floor fused into the scan, canonical-per-fingerprint "
    "dedup as the single shuffle, token counts carried through. Runs "
    "over the corpus with planted mangled redeliveries so every stage "
    "provably drops rows.",
    bench=True,
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, '  ' || UPPER(text) || '  ' AS text
            FROM documents WHERE doc_id % 7 = 0
        ), """
    + curate_oracle_sql("corpus"),
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    mangled = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    return curate(docs.select("doc_id", "text").unionByName(mangled))


# ---------------------------------------------------------------------------
# Training prep: decontaminate → filter → mix → shuffle → pack, one plan
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="pipeline_training_prep",
    survey_ref="training-data (funnel: t17→t2/t3→u10b→u11→u9)",
    bench=True,
    doc="the last mile before the tokenizer, as ONE declarative plan: "
    "drop benchmark-contaminated docs (t17's 8-gram flags, broadcast "
    "anti-join), apply the language + quality floor (fused into the "
    "scan), sample each source at its mixture-planned rate (u10b's "
    "broadcast rate table), assign the deterministic epoch-shuffle "
    "position (u11's bucket-major rank — no corpus-wide sort), and "
    "pack the shuffled order into 2048-token bins (u9's two-phase "
    "prefix sum over position shards). Stages 3-5 call the SAME "
    "helpers the standalone operators use (mixture_rates, "
    "epoch_shuffle_positions, pack_positions), so the epoch/budget "
    "constants cannot desync. Zero rangepartitioning, zero staging "
    "tables. The two diamond frames (kept feeds rates AND the "
    "sampler; positioned feeds shard totals AND the ranked pass) "
    "persist() explicitly — survivor ids + token counts, KBs per "
    "100 GB of input — else the upstream plan re-expands per "
    "consumer; callers batch-processing many corpora should "
    "spark.catalog.clearCache() between runs. tests/test_plans.py "
    "pins the persists (InMemoryTableScan present).",
    oracle=f"""
        WITH bench_docs AS (
            SELECT b.doc_id, b.text || ' ' || c.text AS text
            FROM documents b JOIN documents c ON c.doc_id = b.doc_id + 1
            WHERE b.doc_id % 10 = 3
        ), bench_grams AS (
            SELECT DISTINCT UNNEST(
                CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 8 THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - 7),
                        i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + 7], ' '))
                ELSE [] END) AS gram
            FROM bench_docs
        ), corpus_grams AS (
            SELECT DISTINCT doc_id, UNNEST(
                CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 8 THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - 7),
                        i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + 7], ' '))
                ELSE [] END) AS gram
            FROM documents WHERE doc_id % 10 <> 3
        ), flagged AS (
            SELECT DISTINCT c.doc_id
            FROM corpus_grams c JOIN bench_grams b ON c.gram = b.gram
        ), clean AS (
            SELECT d.doc_id, d.source, d.text
            FROM documents d
            WHERE d.doc_id % 10 <> 3
              AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
        ), kept AS (
            SELECT doc_id, source,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
            FROM clean
            WHERE (text LIKE '%the %' OR text LIKE 'the %')
              AND 0.6 * LEAST(LENGTH(text) / 400.0, 1.0)
                  + 0.4 * (CASE WHEN
                       (CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                            t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                          / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1))
                         BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) >= {QUALITY_MIN}
        ), per_source AS (
            SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
            FROM kept GROUP BY source
        ), tot AS (
            SELECT SUM(src_tokens) AS total, COUNT(*) AS k FROM per_source
        ), plan AS (
            SELECT s.source,
                   ROUND(LEAST(1.0, ({MIXTURE_BUDGET_FRAC} * t.total / t.k) / s.src_tokens), 6)
                       AS sample_rate
            FROM per_source s CROSS JOIN tot t
        ), sampled AS (
            SELECT k.doc_id, k.source, k.n_tokens
            FROM kept k JOIN plan p ON k.source = p.source
            WHERE (('0x' || SUBSTR(MD5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
                  < p.sample_rate * 100
        ), positioned AS (
            SELECT doc_id, source, n_tokens,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY MD5('{_SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                        AS BIGINT) AS position
            FROM sampled
        )
        SELECT doc_id, source, n_tokens, position,
               CAST((SUM(n_tokens) OVER w - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id,
               CAST((SUM(n_tokens) OVER w - n_tokens) % {PACK_BUDGET} AS BIGINT) AS bin_offset
        FROM positioned
        WINDOW w AS (ORDER BY position ROWS UNBOUNDED PRECEDING)
    """,
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 3)

    # 1. decontaminate: t17's flag list is tiny → broadcast anti-join
    flagged = decontamination(docs).select("doc_id")
    clean = corpus.join(F.broadcast(flagged), "doc_id", "left_anti")

    # 2. language + quality floor — map-side, fuses into the scan.
    # persist: kept feeds both the rate aggregate and the sampler (the
    # first diamond), and everything downstream — without it the whole
    # decontamination subtree re-executes per consumer.
    kept = doc_tokens(
        clean.filter(
            (F.col("text").contains("the ") | F.col("text").startswith("the "))
            & (quality_score(F.col("text")) >= QUALITY_MIN)
        )
    ).transform(persist_once)

    # 3. mixture-planned per-source sampling (u10b's rate rule via the
    # shared mixture_rates helper): tiny rate table broadcasts
    sampled = (
        kept.join(F.broadcast(mixture_rates(kept)), "source")
        .filter(hash_pct(F.col("doc_id")) < F.col("sample_rate") * 100)
        .select("doc_id", "source", "n_tokens")
    )

    # 4. epoch-shuffle position (u11's helper: bucket-major rank, the
    # corpus window runs once, offsets broadcast)
    # persist: positioned is the second diamond — pack_positions reads
    # it twice (shard totals + the ranked pass)
    positioned = epoch_shuffle_positions(sampled).select(
        "doc_id", "source", "n_tokens", "position"
    ).transform(persist_once)

    # 5. pack the SHUFFLED order into PACK_BUDGET-token bins (u9's
    # helper; positions are dense so position-DIV shards are contiguous)
    return pack_positions(positioned, order_col="position").select(
        "doc_id", "source", "n_tokens", "position", "bin_id", "bin_offset"
    )


# ---------------------------------------------------------------------------
# pipeline_eval_prep: decontaminate → diversity-sample → leakage-safe split
# ---------------------------------------------------------------------------

_EVAL_PER_CELL = 10
_EVAL_N = 8  # word n-gram width (t17's bar)


@REGISTRY.register(
    name="pipeline_eval_prep",
    survey_ref="lifecycle composition: t17 + t17b + v11/v17 + u6b",
    doc="eval-set construction as ONE plan: drop the benchmark docs "
    "and everything contaminated against them — lexically (shared "
    "8-gram, t17) or semantically (cosine ≥ 0.98, t17b) — then take "
    f"an embedding-diversity quota of {_EVAL_PER_CELL} per k-means "
    "cell (v17) and assign val/test by content-fingerprint hash "
    "(u6b), so near-identical eval docs can never straddle the two "
    "halves. Scale: the benchmark side broadcasts into both "
    "contamination probes (the corpus never shuffles for them), "
    "centroids broadcast for the assignment, and the only corpus "
    "exchanges are the gram-hit aggregation and the per-cell quota "
    "window.",
    oracle=f"""
        WITH bench_docs AS (
            SELECT b.doc_id, b.text || ' ' || c.text AS text
            FROM documents b JOIN documents c ON c.doc_id = b.doc_id + 1
            WHERE b.doc_id % 10 = 3
        ), bench_grams AS (
            SELECT DISTINCT UNNEST(
                CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {_EVAL_N} THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {_EVAL_N - 1}),
                        i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + {_EVAL_N - 1}], ' '))
                ELSE [] END) AS gram
            FROM bench_docs
        ), lex_flagged AS (
            SELECT DISTINCT g.doc_id FROM (
                SELECT doc_id, UNNEST(
                    CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {_EVAL_N} THEN
                        LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {_EVAL_N - 1}),
                            i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + {_EVAL_N - 1}], ' '))
                    ELSE [] END) AS gram
                FROM documents WHERE doc_id % 10 <> 3
            ) g JOIN bench_grams b ON g.gram = b.gram
        ), bench_vecs AS (
            SELECT CAST(embedding AS DOUBLE[]) AS bvec
            FROM embeddings WHERE vec_id % 10 = 3
        ), sem_flagged AS (
            SELECT DISTINCT e.vec_id AS doc_id
            FROM embeddings e, bench_vecs b
            WHERE e.vec_id % 10 <> 3
              AND ROUND(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), b.bvec)
                        / (SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                           * SQRT(LIST_DOT_PRODUCT(b.bvec, b.bvec))), 6) >= 0.98
        ), clean AS (
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id % 10 <> 3
              AND d.doc_id NOT IN (SELECT doc_id FROM lex_flagged)
              AND d.doc_id NOT IN (SELECT doc_id FROM sem_flagged)
        ), cen AS (
            SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS centroid
            FROM embeddings WHERE vec_id < 8
        ), scored AS (
            SELECT e.vec_id, c.cell_id,
                   ROUND(LIST_DISTANCE(CAST(e.embedding AS DOUBLE[]), c.centroid), 4) AS dist
            FROM embeddings e JOIN clean cl ON e.vec_id = cl.doc_id
            CROSS JOIN cen c
        ), assigned AS (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
            FROM scored
        ), quota AS (
            SELECT vec_id, cell_id,
                   ROW_NUMBER() OVER (PARTITION BY cell_id
                                      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id) AS r
            FROM assigned WHERE rn = 1
        )
        SELECT q.vec_id AS doc_id, CAST(q.cell_id AS BIGINT) AS cell_id,
               CASE WHEN (('0x' || SUBSTR(MD5(MD5(REGEXP_REPLACE(LOWER(TRIM(d.text)), '\\s+', ' ', 'g'))), 1, 8))::BIGINT % 100) < 50
                    THEN 'val' ELSE 'test' END AS split
        FROM quota q JOIN documents d ON d.doc_id = q.vec_id
        WHERE q.r <= {_EVAL_PER_CELL}
    """,
)
def pipeline_eval_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.vector.clustering import kmeans_assign, seed_centroids
    from ai_iceberg_demo_spark.vector.similarity import as_double, cos_normed, with_norm

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)

    lex_flagged = decontamination(docs).select("doc_id")

    base = emb.select("vec_id", as_double("embedding").alias("embedding"))
    bench = with_norm(base.filter(F.col("vec_id") % 10 == 3), "embedding", "bv", "bn")
    corpus = with_norm(base.filter(F.col("vec_id") % 10 != 3), "embedding", "cv", "cn")
    score = F.round(cos_normed("cv", "cn", "bv", "bn"), 6)
    sem_flagged = (
        corpus.crossJoin(F.broadcast(bench.select("bv", "bn")))
        .select("vec_id", score.alias("s"))
        .filter(F.col("s") >= 0.98)
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
    )

    clean_ids = (
        docs.filter(F.col("doc_id") % 10 != 3)
        .select("doc_id")
        .join(F.broadcast(lex_flagged), "doc_id", "left_anti")
        .join(F.broadcast(sem_flagged), "doc_id", "left_anti")
    )
    clean_vecs = emb.join(
        clean_ids.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    assigned = kmeans_assign(clean_vecs, seed_centroids(emb)).select("vec_id", "cell_id")
    w = W.partitionBy("cell_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    quota = (
        assigned.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= _EVAL_PER_CELL)
        .select(F.col("vec_id").alias("doc_id"), "cell_id")
    )
    split = F.when(hash_pct(fingerprint(F.col("text"))) < 50, "val").otherwise("test")
    return (
        quota.join(docs, "doc_id")
        .select("doc_id", F.col("cell_id").cast("bigint").alias("cell_id"), split.alias("split"))
    )


# ---------------------------------------------------------------------------
# pipeline_dsir_selection: domain-targeted selection → dedup → manifest
# ---------------------------------------------------------------------------

_DSIR_SELECT_PCT = 0.70  # keep docs at or above the 70th weight percentile


@REGISTRY.register(
    name="pipeline_dsir_selection",
    survey_ref="training-data (composed: u23 + d1b + u25)",
    doc="the domain-targeted curation funnel end-to-end: score every "
    "doc with u23's DSIR log-likelihood ratio, keep the top-30% most "
    "target-like (≥ the exact 70th percentile — one 1-row broadcast, "
    "no global sort), collapse exact duplicates to their canonical "
    "min-id survivor (d1b's rule), and emit the per-source release "
    "manifest with u25's order-independent content digest. Every "
    "stage is deterministic, so the three-operator composition is "
    "hash-oracled as ONE query — the integration evidence that the "
    "pieces compose, not just pass alone. Shuffles: one wordcount "
    "(u23), one fingerprint groupBy (d1b), one source agg (u25); the "
    "corpus itself moves once per stage, never pairwise.",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents
        ), freq AS (
            SELECT w,
                   COUNT(*) AS c_raw,
                   COUNT(*) FILTER (WHERE lang = 'en') AS c_tgt
            FROM words GROUP BY w
        ), tot AS (
            SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt, COUNT(*) AS v
            FROM freq
        ), ratio AS (
            SELECT w,
                   LN(((c_tgt + 1.0) / (n_tgt + v))
                      / ((c_raw + 1.0) / (n_raw + v))) AS llr
            FROM freq CROSS JOIN tot
        ), weighted AS (
            SELECT doc_id, ROUND(SUM(llr), 4) AS dsir_weight
            FROM words JOIN ratio USING (w)
            GROUP BY doc_id
        ), cut AS (
            SELECT QUANTILE_CONT(dsir_weight, {_DSIR_SELECT_PCT}) AS thr
            FROM weighted
        ), selected AS (
            SELECT d.doc_id, d.source, d.text
            FROM documents d JOIN weighted w ON d.doc_id = w.doc_id, cut
            WHERE w.dsir_weight >= cut.thr
        ), fp AS (
            SELECT doc_id, source, text,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS f
            FROM selected
        ), canon AS (
            SELECT doc_id, source, text
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
                  FROM fp)
            WHERE rn = 1
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(SUM(('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))::BIGINT)
                   AS BIGINT) AS content_digest
        FROM canon
        GROUP BY source
    """,
)
def pipeline_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.operators.sampling import dsir_weights

    docs = load_table(spark, "documents", sf_dir)
    # weighted feeds the percentile threshold AND the selection join —
    # persist or the n-gram likelihood-ratio build runs twice
    weighted = dsir_weights(docs).select("doc_id", "dsir_weight").transform(
        persist_once
    )
    thr = weighted.agg(
        F.expr(f"percentile(dsir_weight, {_DSIR_SELECT_PCT})").alias("thr")
    )
    selected = (
        docs.join(weighted, "doc_id")
        .join(F.broadcast(thr))
        .filter(F.col("dsir_weight") >= F.col("thr"))
        .select("doc_id", "source", "text")
    )
    fp = selected.withColumn("f", fingerprint(F.col("text")))
    w = W.partitionBy("f").orderBy("doc_id")
    canon = fp.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    row_digest = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    return canon.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
        F.sum(row_digest).cast("bigint").alias("content_digest"),
    )



# ---------------------------------------------------------------------------
# pipeline_governance: release-readiness report (s14 + m13 + m7 composed)
# ---------------------------------------------------------------------------


def _governance_oracle() -> str:
    """Compose the EXACT oracle strings of the constituent operators as
    subqueries — the composition is then hash-checked against the same
    SQL the parts are checked against, so a drift in any part's oracle
    drifts this one identically (single source of truth)."""
    from ai_iceberg_demo_spark.operators.mutations import (
        REGISTRY as _MUT_REGISTRY,
    )
    from ai_iceberg_demo_spark.operators.scans_filters import (
        REGISTRY as _SCAN_REGISTRY,
    )

    s14 = _SCAN_REGISTRY.specs["s14_expectation_suite"].oracle
    m13 = _MUT_REGISTRY.specs["m13_k_anonymity"].oracle
    m7 = _MUT_REGISTRY.specs["m7_retention_audit"].oracle
    return f"""
        SELECT 'expectations' AS family, expectation AS check_name,
               CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
        FROM ({s14}) GROUP BY expectation
        UNION ALL
        SELECT 'k_anonymity', action,
               CAST(COUNT(*) AS BIGINT)
        FROM ({m13}) WHERE action <> 'keep' GROUP BY action
        UNION ALL
        SELECT 'retention', 'rows_requiring_deletion',
               CAST(SUM(n_ttl_dropped + n_erased) AS BIGINT)
        FROM ({m7})
    """


@REGISTRY.register(
    name="pipeline_governance",
    survey_ref="training-data (composed: s14 + m13 + m7 release gate)",
    doc="the pre-release governance report: schema-contract violations "
    "(s14), quasi-identifier groups needing generalization or "
    "suppression (m13), and rows the retention/erasure policy says "
    "must go (m7) — one verdict table a release manager reads before "
    "publishing a dataset. The oracle REUSES the constituent "
    "operators' exact oracle strings as subqueries, so the "
    "composition can never drift from its parts. The Spark side loads "
    "lineitem and events once and passes each to the parts' builders "
    "that read it; cost = the three parts' scans, nothing new moves.",
    oracle=_governance_oracle(),
)
def pipeline_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.operators.mutations import k_anonymity, retention_audit
    from ai_iceberg_demo_spark.operators.scans_filters import expectation_suite

    ev = load_table(spark, "events", sf_dir)
    s14 = (
        expectation_suite(load_table(spark, "lineitem", sf_dir))
        .groupBy(F.col("expectation").alias("check_name"))
        .agg(
            F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("bigint").alias("n_violations")
        )
        .select(F.lit("expectations").alias("family"), "check_name", "n_violations")
    )
    m13 = (
        k_anonymity(ev)
        .filter(F.col("action") != "keep")
        .groupBy(F.col("action").alias("check_name"))
        .agg(F.count("*").cast("bigint").alias("n_violations"))
        .select(F.lit("k_anonymity").alias("family"), "check_name", "n_violations")
    )
    m7 = retention_audit(ev).agg(
        F.sum(F.col("n_ttl_dropped") + F.col("n_erased"))
        .cast("bigint")
        .alias("n_violations")
    ).select(
        F.lit("retention").alias("family"),
        F.lit("rows_requiring_deletion").alias("check_name"),
        "n_violations",
    )
    return s14.unionByName(m13).unionByName(m7)


# ---------------------------------------------------------------------------
# pipeline: web-scrape ingestion funnel (f39 ∘ quality gate ∘ d1)
# ---------------------------------------------------------------------------

_WEB_MIN_TOKENS = 30  # quality gate (p25 of the fixture is 32 — selective, non-vacuous)


@REGISTRY.register(
    name="pipeline_web_ingest",
    survey_ref="training-data (web ingestion funnel: f39 ∘ v10-gate ∘ d1)",
    doc="the web-scrape ingestion funnel as ONE plan: raw feed = the "
    "f39-framed corpus PLUS whitespace-mangled mirror copies for "
    "doc_id%10==0 (the classic mirrored-page dup — planted in-query, "
    "t20's pattern) → HTML strip (f39's exact expression, shared "
    "helper) → minimum-token quality gate → exact dedup on d1's "
    "normalized fingerprint (keep-min) → per-source funnel report "
    "(docs_in / docs_clean / docs_unique / kept tokens). The strip's "
    "whitespace collapse is what makes the mangled mirrors exact "
    "dups — the stages provably compose, and the oracle REUSES the "
    "parts' SQL spellings so the composition can never drift. One "
    "fingerprint shuffle moves the corpus; the report is source-keyed "
    "partials joined small-on-small.",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, source, text, {_HTML_FRAME_SQL} AS html
            FROM documents
        ), raw AS (
            SELECT doc_id, source, html FROM base
            UNION ALL
            SELECT doc_id + 1000000, source, REPLACE(html, ' ', '  ')
            FROM base WHERE doc_id % 10 = 0
        ), cleaned AS (
            SELECT doc_id, source,
                   {_HTML_STRIP_SQL.format(col="html")} AS txt
            FROM raw
        ), gated AS (
            SELECT doc_id, source, txt,
                   LEN(STRING_SPLIT(txt, ' ')) AS n
            FROM cleaned WHERE LEN(STRING_SPLIT(txt, ' ')) >= {_WEB_MIN_TOKENS}
        ), uniq AS (
            SELECT MD5(REGEXP_REPLACE(LOWER(TRIM(txt)), '\\s+', ' ', 'g')) AS fp,
                   MIN(doc_id) AS keep_id
            FROM gated GROUP BY 1
        ), kept AS (
            SELECT g.doc_id, g.source, g.n
            FROM gated g
            JOIN uniq u
              ON MD5(REGEXP_REPLACE(LOWER(TRIM(g.txt)), '\\s+', ' ', 'g')) = u.fp
             AND g.doc_id = u.keep_id
        ), per_raw AS (
            SELECT source, COUNT(*) AS docs_in FROM raw GROUP BY source
        ), per_gated AS (
            SELECT source, COUNT(*) AS docs_clean FROM gated GROUP BY source
        ), per_kept AS (
            SELECT source, COUNT(*) AS docs_unique, SUM(n) AS kept_tokens
            FROM kept GROUP BY source
        )
        SELECT r.source,
               CAST(r.docs_in AS BIGINT) AS docs_in,
               CAST(COALESCE(g.docs_clean, 0) AS BIGINT) AS docs_clean,
               CAST(COALESCE(k.docs_unique, 0) AS BIGINT) AS docs_unique,
               CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
        FROM per_raw r
        LEFT JOIN per_gated g ON r.source = g.source
        LEFT JOIN per_kept k ON r.source = k.source
        ORDER BY r.source
    """,
)
def pipeline_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select("doc_id", "source", "text", html_frame_col().alias("html"))
    mirrors = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        F.replace(F.col("html"), F.lit(" "), F.lit("  ")).alias("html"),
    )
    raw = base.select("doc_id", "source", "html").unionByName(mirrors)
    cleaned = raw.select(
        "doc_id", "source", html_strip_col(F.col("html")).alias("txt")
    )
    gated = cleaned.select(
        "doc_id", "source", "txt", F.size(F.split("txt", " ")).alias("n")
    ).filter(F.col("n") >= _WEB_MIN_TOKENS)
    # keep-min per fingerprint via min-struct (partial-aggregable, no window)
    kept = (
        gated.select(fingerprint(F.col("txt")).alias("fp"), "doc_id", "source", "n")
        .groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source", "n")).alias("k"))
        .select(
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.source").alias("source"),
            F.col("k.n").alias("n"),
        )
    )
    per_raw = raw.groupBy("source").agg(F.count("*").alias("docs_in"))
    per_gated = gated.groupBy("source").agg(F.count("*").alias("docs_clean"))
    per_kept = kept.groupBy("source").agg(
        F.count("*").alias("docs_unique"), F.sum("n").alias("kept_tokens")
    )
    return (
        per_raw.join(per_gated, "source", "left")
        .join(per_kept, "source", "left")
        .select(
            "source",
            F.col("docs_in").cast("bigint").alias("docs_in"),
            F.coalesce("docs_clean", F.lit(0)).cast("bigint").alias("docs_clean"),
            F.coalesce("docs_unique", F.lit(0)).cast("bigint").alias("docs_unique"),
            F.coalesce("kept_tokens", F.lit(0)).cast("bigint").alias("kept_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipeline: multi-tier dedup cascade (exact → MinHash-LSH → verified Jaccard)
# ---------------------------------------------------------------------------


def _cascade_oracle() -> str:
    from ai_iceberg_demo_spark.vector.dedup import _bands_sql

    return f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 1000000, '  ' || UPPER(text) || '  '
            FROM documents WHERE doc_id % 20 = 0
            UNION ALL
            SELECT doc_id + 2000000, text || ' near duplicate footer variant'
            FROM documents WHERE doc_id % 30 = 0
        ), fp AS (
            SELECT doc_id, text,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
            FROM corpus
        ), surv1 AS (
            SELECT MIN(doc_id) AS doc_id, ARG_MIN(text, doc_id) AS text
            FROM fp GROUP BY fp
        ){_bands_sql("TRUE", src="surv1", lead=", ")}
        , cands AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), sdocs AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM surv1
        ), sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST(CASE WHEN LEN(toks) >= 3 THEN
                       LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   ELSE [] END) AS shingle
            FROM sdocs
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
            FROM cands c
            JOIN sh a ON a.doc_id = c.a_id
            JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
            GROUP BY c.a_id, c.b_id
        ), dropped AS (
            SELECT DISTINCT i.b_id AS doc_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
                  >= 0.8
        ), tier1 AS (
            SELECT CAST(1 AS INT) AS tier, 'exact_fingerprint' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS docs_in,
                   CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS docs_removed,
                   CAST(COUNT(DISTINCT fp) AS BIGINT) AS docs_out
            FROM fp
        ), tier2 AS (
            SELECT CAST(2 AS INT) AS tier, 'minhash_jaccard' AS stage,
                   CAST(COUNT(*) AS BIGINT) AS docs_in,
                   CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS docs_removed,
                   CAST(COUNT(*) - SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1
                                            ELSE 0 END) AS BIGINT) AS docs_out
            FROM surv1 s LEFT JOIN dropped d ON s.doc_id = d.doc_id
        )
        SELECT * FROM tier1 UNION ALL SELECT * FROM tier2 ORDER BY tier
    """


@REGISTRY.register(
    name="pipeline_dedup_cascade",
    survey_ref="training-data (the multi-tier dedup recipe: d1 ∘ d3 ∘ d2b)",
    bench=True,
    doc="the canonical corpus-dedup CASCADE as one plan — the recipe "
    "every large pretraining corpus runs (exact first because it's "
    "cheapest, fuzzy only over what survives): tier 1 collapses "
    "whitespace/case-mangled redeliveries on d1's normalized "
    "fingerprint (keep-min); tier 2 MinHash-bands ONLY the tier-1 "
    "survivors, verifies band collisions with exact word-3-gram "
    "Jaccard ≥ 0.8 (d2b's candidates→verify shape), and drops the "
    "larger id of each verified pair. Both tiers provably fire: the "
    "corpus is planted in-query with exact-mangled copies "
    "(doc_id%20==0, tier-1 fodder that the fingerprint collapses) and "
    "near-dup footer twins (doc_id%30==0, tier-2 fodder that survives "
    "tier 1). Output = the per-tier survivor-flow ledger "
    "(docs_in/docs_removed/docs_out) a data lead signs off on. Each "
    "tier's pair search is banded, never all-pairs; tier-2 cost is "
    "O(survivors), not O(corpus) — the whole point of cascading. The "
    "oracle reuses d3's band CTE chain and d2b's verify spelling so "
    "the composition can never drift from its parts.",
    oracle=_cascade_oracle(),
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.vector.dedup import (
        JACCARD,
        band_pairs,
        minhash_bands,
        pair_overlaps,
        shingle_sets,
    )

    docs = load_table(spark, "documents", sf_dir)
    # r13 (guide §6): the planted corpus is ONE scan — %20==0 and
    # %30==0 are subsets of the %10==0 sample, so each sampled row
    # explodes into itself plus its conditional mangled/footer plants
    # instead of three filtered passes over documents. Same row
    # multiset as the former three-branch union.
    variants = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.struct(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("  "), F.upper("text"), F.lit("  ")).alias("text"),
        ),
        F.struct(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" near duplicate footer variant")
            ).alias("text"),
        ),
    )
    keep = F.filter(
        variants,
        lambda v, i: (i == 0)
        | ((i == 1) & (F.col("doc_id") % 20 == 0))
        | ((i == 2) & (F.col("doc_id") % 30 == 0)),
    )
    corpus = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(keep).alias("_v"))
        .select("_v.doc_id", "_v.text")
    )
    fp = corpus.select("doc_id", "text", fingerprint(F.col("text")).alias("fp"))
    # keep-min survivor carries its text forward (min-struct: partial-
    # aggregable, no window); persist — feeds the band index, the
    # shingle table, and the tier-2 ledger
    # r12 (the v32 fan-out lesson): carry each fingerprint group's size
    # on the survivor row — tier 1's ledger then reads entirely off the
    # persisted survivors (docs_in = Σ grp_n, docs_out = COUNT(*)), so
    # the 3-scan corpus build + md5 no longer execute a second time for
    # a COUNT DISTINCT that surv1 already materializes
    surv1 = (
        fp.groupBy("fp")
        .agg(
            F.min(F.struct("doc_id", "text")).alias("k"),
            F.count("*").alias("grp_n"),
        )
        .select(
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.text").alias("text"),
            "grp_n",
        )
        .transform(persist_once)
    )
    dropped = (
        pair_overlaps(band_pairs(minhash_bands(surv1)), shingle_sets(surv1))
        .filter(F.expr(JACCARD) >= 0.8)
        .select(F.col("b_id").alias("doc_id"))
        .distinct()
    )
    tier1 = surv1.agg(
        F.sum("grp_n").alias("n"), F.count("*").alias("u")
    ).select(
        F.lit(1).cast("int").alias("tier"),
        F.lit("exact_fingerprint").alias("stage"),
        F.col("n").cast("bigint").alias("docs_in"),
        (F.col("n") - F.col("u")).cast("bigint").alias("docs_removed"),
        F.col("u").cast("bigint").alias("docs_out"),
    )
    hit = F.when(F.col("hit").isNotNull(), 1).otherwise(0)
    tier2 = (
        surv1.join(F.broadcast(dropped.withColumn("hit", F.lit(1))), "doc_id", "left")
        .agg(F.count("*").alias("n"), F.sum(hit).alias("r"))
        .select(
            F.lit(2).cast("int").alias("tier"),
            F.lit("minhash_jaccard").alias("stage"),
            F.col("n").cast("bigint").alias("docs_in"),
            F.col("r").cast("bigint").alias("docs_removed"),
            (F.col("n") - F.col("r")).cast("bigint").alias("docs_out"),
        )
    )
    return tier1.unionByName(tier2).orderBy("tier")


# ---------------------------------------------------------------------------
# pipeline: per-source corpus quality scorecard (t2 ∘ t3 ∘ t18 ∘ d1)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="pipeline_quality_report",
    survey_ref="training-data (corpus scorecard: t2 ∘ t3 ∘ t18 ∘ d1 per source)",
    doc="the per-source corpus scorecard a data lead reads before "
    "setting mixture weights (u10's upstream): mean t2 quality, "
    "English fraction (t3's guess), mean top-word dominance (t18's "
    "repetition signal), natural duplicate rate (d1's fingerprint), "
    "and mean document length — one row per source, composed from the "
    "constituent operators' EXACT spellings (shared helpers engine-"
    "side, shared SQL fragments oracle-side) so the scorecard can "
    "never drift from the gates it summarizes. Shape: one corpus scan "
    "computes every per-doc metric except dominance (whose wordcount "
    "is the one extra doc-keyed shuffle), then a single source-keyed "
    "agg with map-side partials; COUNT(DISTINCT fp) rides the same "
    "agg. O(sources) output rows.",
    oracle="""
        WITH perdoc AS (
            SELECT doc_id, source,
                   0.6 * LEAST(LENGTH(text) / 400.0, 1.0)
                       + 0.4 * (CASE WHEN
                            (CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                               / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1))
                              BETWEEN 0.05 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality,
                   CASE WHEN text LIKE '%the %' OR text LIKE 'the %' THEN 'en'
                        ELSE 'und' END AS lang_guess,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp,
                   LEN(STRING_SPLIT(text, ' ')) AS n_ws
            FROM documents
        ), words AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
        ), wc AS (
            SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
        ), dom AS (
            SELECT doc_id, MAX(c) / CAST(SUM(c) AS DOUBLE) AS dominance
            FROM wc GROUP BY doc_id
        )
        SELECT p.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(AVG(p.quality), 6) AS mean_quality,
               ROUND(AVG(CASE WHEN p.lang_guess = 'en' THEN 1.0 ELSE 0.0 END), 6)
                   AS pct_en,
               ROUND(AVG(d.dominance), 6) AS mean_dominance,
               ROUND(1.0 - COUNT(DISTINCT p.fp) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS dup_rate,
               ROUND(AVG(p.n_ws), 2) AS mean_ws_tokens
        FROM perdoc p JOIN dom d USING (doc_id)
        GROUP BY p.source
        ORDER BY p.source
    """,
)
def pipeline_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    perdoc = docs.select(
        "doc_id",
        "source",
        quality_score(F.col("text")).alias("quality"),
        F.when(
            F.col("text").contains("the ") | F.col("text").startswith("the "), "en"
        )
        .otherwise("und")
        .alias("lang_guess"),
        fingerprint(F.col("text")).alias("fp"),
        F.size(F.split("text", " ")).alias("n_ws"),
    )
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    dom = wc.groupBy("doc_id").agg(
        (F.max("c") / F.sum("c").cast("double")).alias("dominance")
    )
    return (
        perdoc.join(dom, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("quality"), 6).alias("mean_quality"),
            F.round(
                F.avg(F.when(F.col("lang_guess") == "en", 1.0).otherwise(0.0)), 6
            ).alias("pct_en"),
            F.round(F.avg("dominance"), 6).alias("mean_dominance"),
            F.round(
                1.0 - F.countDistinct("fp") / F.count("*").cast("double"), 6
            ).alias("dup_rate"),
            F.round(F.avg("n_ws"), 2).alias("mean_ws_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipeline: subject-erasure execution + verification (Art. 17 end-to-end)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="pipeline_erasure",
    survey_ref="governance (s12's inventory EXECUTED: erase → re-inventory "
    "→ verify; m7's per-subject sibling)",
    doc="GDPR Art. 17 erasure as one verified plan: the subject's rows "
    "(s12's key=7) are removed from every holding table — customer and "
    "orders by direct key filter, events by user key, lineitem through "
    "the subject's-orders anti-join (the indirect path an erasure job "
    "forgets first) — and the output re-runs s12's inventory on BOTH "
    "sides: rows_before per table (hash-checked against s12's own "
    "numbers by construction), rows_after, and erased_ok = "
    "(rows_after == 0), the verification a DPO files. At 100 TB each "
    "branch is a partition-pruned DELETE (Iceberg row-level delete on "
    "the subject's partitions) and the verify re-reads only those "
    "partitions; the oracle reuses s12's subject spelling so the "
    "erasure predicates can never drift from the inventory that "
    "audits them.",
    oracle=f"""
        WITH ords AS (
            SELECT o_orderkey FROM orders WHERE o_custkey = {_ERASE_KEY}
        ), before AS (
            SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_before
            FROM customer WHERE c_custkey = {_ERASE_KEY}
            UNION ALL
            SELECT 'orders', CAST(COUNT(*) AS BIGINT)
            FROM orders WHERE o_custkey = {_ERASE_KEY}
            UNION ALL
            SELECT 'lineitem', CAST(COUNT(*) AS BIGINT)
            FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
            UNION ALL
            SELECT 'events', CAST(COUNT(*) AS BIGINT)
            FROM events WHERE user_id = {_ERASE_KEY}
        ), after AS (
            SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS rows_after
            FROM (SELECT * FROM customer WHERE c_custkey <> {_ERASE_KEY})
            WHERE c_custkey = {_ERASE_KEY}
            UNION ALL
            SELECT 'orders', CAST(COUNT(*) AS BIGINT)
            FROM (SELECT * FROM orders WHERE o_custkey <> {_ERASE_KEY})
            WHERE o_custkey = {_ERASE_KEY}
            UNION ALL
            SELECT 'lineitem', CAST(COUNT(*) AS BIGINT)
            FROM (SELECT * FROM lineitem
                  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM ords))
            WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
            UNION ALL
            SELECT 'events', CAST(COUNT(*) AS BIGINT)
            FROM (SELECT * FROM events WHERE user_id <> {_ERASE_KEY})
            WHERE user_id = {_ERASE_KEY}
        )
        SELECT b.table_name, b.rows_before, a.rows_after,
               a.rows_after = 0 AS erased_ok
        FROM before b JOIN after a ON b.table_name = a.table_name
        ORDER BY b.table_name
    """,
)
def pipeline_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    ev = load_table(spark, "events", sf_dir)
    subj_orders = orders.filter(F.col("o_custkey") == _ERASE_KEY).select(
        F.col("o_orderkey").alias("l_orderkey")
    )

    # the erased relations — at 100 TB these are the row-level DELETEs
    cust_after = cust.filter(F.col("c_custkey") != _ERASE_KEY)
    orders_after = orders.filter(F.col("o_custkey") != _ERASE_KEY)
    li_after = li.join(F.broadcast(subj_orders), "l_orderkey", "left_anti")
    ev_after = ev.filter(F.col("user_id") != _ERASE_KEY)

    def row(name, subject_before, subject_after):
        b = subject_before.agg(F.count("*").cast("bigint").alias("rows_before"))
        a = subject_after.agg(F.count("*").cast("bigint").alias("rows_after"))
        return b.crossJoin(F.broadcast(a)).select(
            F.lit(name).alias("table_name"),
            "rows_before",
            "rows_after",
            (F.col("rows_after") == 0).alias("erased_ok"),
        )

    # subject slices on both sides; lineitem via the same broadcast
    # semi-join the erasure itself uses (never a driver-side key list)
    li_subj_before = li.join(F.broadcast(subj_orders), "l_orderkey", "left_semi")
    li_subj_after = li_after.join(F.broadcast(subj_orders), "l_orderkey", "left_semi")
    return (
        row(
            "customer",
            cust.filter(F.col("c_custkey") == _ERASE_KEY),
            cust_after.filter(F.col("c_custkey") == _ERASE_KEY),
        )
        .unionByName(
            row(
                "events",
                ev.filter(F.col("user_id") == _ERASE_KEY),
                ev_after.filter(F.col("user_id") == _ERASE_KEY),
            )
        )
        .unionByName(row("lineitem", li_subj_before, li_subj_after))
        .unionByName(
            row(
                "orders",
                orders.filter(F.col("o_custkey") == _ERASE_KEY),
                orders_after.filter(F.col("o_custkey") == _ERASE_KEY),
            )
        )
        .orderBy("table_name")
    )


# ---------------------------------------------------------------------------
# pipeline: model-evaluation report (t47 ∘ t64 ∘ t65 in one table)
# ---------------------------------------------------------------------------


def _model_eval_oracle() -> str:
    """Compose the EXACT oracle strings of the three eval operators as
    subqueries (the governance-pipeline discipline): threshold metrics
    (t47), calibration (t64), ranking (t65) — drift in any part's
    oracle drifts this one identically."""
    from ai_iceberg_demo_spark.streaming.events import (
        REGISTRY as _EV_REGISTRY,
    )

    t47 = _EV_REGISTRY.specs["t47_classifier_eval"].oracle
    t64 = _EV_REGISTRY.specs["t64_calibration_bins"].oracle
    t65 = _EV_REGISTRY.specs["t65_roc_auc"].oracle
    return f"""
        SELECT 'threshold' AS family, metric, value FROM (
            SELECT UNNEST(['precision', 'recall', 'f1', 'accuracy']) AS metric,
                   UNNEST([precision, recall, f1, accuracy]) AS value
            FROM ({t47})
        )
        UNION ALL
        SELECT 'calibration', metric, value FROM (
            SELECT UNNEST(['ece', 'brier']) AS metric,
                   UNNEST([ece, brier]) AS value
            FROM ({t64}) WHERE bin = 0
        )
        UNION ALL
        SELECT 'ranking', metric, value FROM (
            SELECT UNNEST(['auc', 'gini']) AS metric,
                   UNNEST([auc, gini]) AS value
            FROM ({t65})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_model_eval",
    survey_ref="training-data (composed: t47 + t64 + t65 eval card)",
    doc="the full classifier evaluation card in ONE table: threshold "
    "metrics (t47's precision/recall/F1/accuracy), calibration "
    "(t64's overall ECE + Brier), and threshold-free ranking (t65's "
    "AUC + Gini) — long-format (family, metric, value), the report "
    "an auto-labeling pipeline publishes before its labels train "
    "anything. The oracle REUSES the three parts' exact oracle "
    "strings as subqueries so the composition can never drift from "
    "its parts. The Spark side builds the parts' one labeled-score "
    "frame (score, pos) once: t64 bins it, and t47's counters and "
    "t65's ranks both read its one per-score aggregate, whose "
    "exchange AQE reuses. Each family reduces map-side before "
    "anything joins.",
    oracle=_model_eval_oracle(),
)
def pipeline_model_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.streaming.events import (
        calibration_bins,
        classifier_eval,
        labeled_scores,
        roc_auc,
        score_counts,
    )

    labeled = labeled_scores(load_table(spark, "events", sf_dir))
    counts = score_counts(labeled)
    t47 = long_metrics(
        classifier_eval(counts),
        "threshold",
        ["precision", "recall", "f1", "accuracy"],
    )
    t64 = long_metrics(
        calibration_bins(labeled).filter(F.col("bin") == 0),
        "calibration",
        ["ece", "brier"],
    )
    t65 = long_metrics(roc_auc(counts), "ranking", ["auc", "gini"])
    return t47.unionByName(t64).unionByName(t65).orderBy("family", "metric")


# ---------------------------------------------------------------------------
# pipeline: experimentation card (t80 design ∘ t27 readout ∘ t74 causal)
# ---------------------------------------------------------------------------


def _experiment_oracle() -> str:
    """Compose the three experiment operators' EXACT oracle strings
    (the model-eval-card discipline): design power (t80, the purchase
    conversion t27 tests), the significance readout (t27), and the
    trend-robust causal estimate (t74)."""
    from ai_iceberg_demo_spark.streaming.events import (
        REGISTRY as _EV_REGISTRY,
    )

    t80 = _EV_REGISTRY.specs["t80_power_analysis"].oracle
    t27 = _EV_REGISTRY.specs["t27_ab_test"].oracle
    t74 = _EV_REGISTRY.specs["t74_diff_in_diff"].oracle
    return f"""
        SELECT 'design' AS family, metric, value FROM (
            SELECT UNNEST(['n_per_arm_current', 'n_per_arm_required',
                           'adequately_powered']) AS metric,
                   UNNEST([CAST(n_per_arm_current AS DOUBLE),
                           CAST(n_per_arm_required AS DOUBLE),
                           CASE WHEN adequately_powered THEN 1.0
                                ELSE 0.0 END]) AS value
            FROM ({t80}) WHERE event_type = 'purchase'
        )
        UNION ALL
        SELECT 'readout', metric, value FROM (
            SELECT UNNEST(['rate_a', 'rate_b', 'z_score', 'significant'])
                       AS metric,
                   UNNEST([rate_a, rate_b, z_score,
                           CASE WHEN significant THEN 1.0 ELSE 0.0 END])
                       AS value
            FROM ({t27})
        )
        UNION ALL
        SELECT 'causal', metric, value FROM (
            SELECT UNNEST(['did_estimate', 'did_se', 'planted_effect',
                           'recovered']) AS metric,
                   UNNEST([did_estimate, did_se, planted_effect,
                           CASE WHEN recovered THEN 1.0 ELSE 0.0 END])
                       AS value
            FROM ({t74})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_experiment",
    survey_ref="training-data (composed: t80 + t27 + t74 experiment card)",
    doc="the full experimentation lifecycle in ONE table: design "
    "(t80's power check on the purchase conversion t27 actually "
    "tests), readout (t27's rates, z, significance), and the "
    "trend-robust causal estimate (t74's DiD with SE) — long-format "
    "(family, metric, value), the card an experiment review reads "
    "top to bottom. Oracle reuses the three parts' exact SQL as "
    "subqueries (pipeline_model_eval's discipline); the Spark side "
    "loads events once, passes it to the three parts' builders and "
    "unpivots. Each family is a "
    "closed-form aggregate — event volume reduces map-side before "
    "any union.",
    oracle=_experiment_oracle(),
)
def pipeline_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.streaming.events import (
        ab_test,
        diff_in_diff,
        power_analysis,
    )

    ev = load_table(spark, "events", sf_dir)
    design = long_metrics(
        power_analysis(ev).filter(
            F.col("event_type") == "purchase"
        ),
        "design",
        ["n_per_arm_current", "n_per_arm_required", "adequately_powered"],
    )
    readout = long_metrics(
        ab_test(ev),
        "readout",
        ["rate_a", "rate_b", "z_score", "significant"],
    )
    causal = long_metrics(
        diff_in_diff(ev),
        "causal",
        ["did_estimate", "did_se", "planted_effect", "recovered"],
    )
    return design.unionByName(readout).unionByName(causal).orderBy(
        "family", "metric"
    )


# ---------------------------------------------------------------------------
# pipeline: forecasting card (t78 coverage ∘ t79 fit — the third card)
# ---------------------------------------------------------------------------


def _forecast_oracle() -> str:
    from ai_iceberg_demo_spark.streaming.events import (
        REGISTRY as _EV_REGISTRY,
    )

    t78 = _EV_REGISTRY.specs["t78_conformal_forecast"].oracle
    t79 = _EV_REGISTRY.specs["t79_ols_forecast"].oracle
    return f"""
        SELECT 'uncertainty' AS family, metric, value FROM (
            SELECT UNNEST(['realized_coverage', 'n_test_days',
                           'interval_width']) AS metric,
                   UNNEST([ANY_VALUE(realized_coverage),
                           CAST(COUNT(*) AS DOUBLE),
                           ANY_VALUE(ROUND(hi - lo, 4))]) AS value
            FROM ({t78})
        )
        UNION ALL
        SELECT 'model', metric, value FROM (
            SELECT UNNEST(['mae_ols', 'mae_naive', 'beats_naive',
                           'beta_lag1', 'beta_ma7']) AS metric,
                   UNNEST([mae_ols, mae_naive,
                           CASE WHEN beats_naive THEN 1.0 ELSE 0.0 END,
                           beta_lag1, beta_ma7]) AS value
            FROM ({t79})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_forecast",
    survey_ref="training-data (composed: t78 + t79 forecast card); the "
    "third review card next to pipeline_model_eval and "
    "pipeline_experiment",
    doc="the forecast review card in ONE long-format table: "
    "uncertainty (t78's realized conformal coverage, test-day count, "
    "the single interval width) and model quality (t79's MAE vs the "
    "persistence baseline with the beats-naive verdict and both "
    "coefficients). Oracle reuses the two parts' exact SQL as "
    "subqueries. The Spark side builds t75's feature frame and its "
    "60/40 day split once (one eager count) and passes the split to "
    "both parts, so the card's numbers provably describe the SAME "
    "features and days the forecaster trained on. Day-table "
    "aggregates only.",
    oracle=_forecast_oracle(),
)
def pipeline_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.streaming.events import (
        conformal_forecast,
        daily_feature_frame,
        forecast_split,
        ols_forecast,
    )

    split, n_fit = forecast_split(daily_feature_frame(spark, sf_dir))
    t78 = conformal_forecast(split, n_fit)
    unc = t78.agg(
        F.first("realized_coverage").alias("realized_coverage"),
        F.count("*").cast("double").alias("n_test_days"),
        F.first(F.round(F.col("hi") - F.col("lo"), 4)).alias("interval_width"),
    )
    t79 = ols_forecast(split).select(
        "mae_ols",
        "mae_naive",
        F.when(F.col("beats_naive"), 1.0).otherwise(0.0).alias("beats_naive"),
        "beta_lag1",
        "beta_ma7",
    )
    unc_long = long_metrics(
        unc, "uncertainty", ["realized_coverage", "n_test_days", "interval_width"]
    )
    model_long = long_metrics(
        t79, "model", ["mae_ols", "mae_naive", "beats_naive", "beta_lag1", "beta_ma7"]
    )
    return unc_long.unionByName(model_long).orderBy("family", "metric")


# ---------------------------------------------------------------------------
# pipeline: storage review card (s16 ∘ s18 ∘ s19 — the fifth card)
# ---------------------------------------------------------------------------


def _storage_oracle() -> str:
    from ai_iceberg_demo_spark.operators.scans_filters import (
        REGISTRY as _SCAN_REGISTRY,
    )

    s16 = _SCAN_REGISTRY.specs["s16_partition_plan"].oracle
    s18 = _SCAN_REGISTRY.specs["s18_zonemap_audit"].oracle
    s19 = _SCAN_REGISTRY.specs["s19_encoding_advisor"].oracle
    return f"""
        SELECT 'partitioning' AS family, part_col AS item,
               ROUND(skew_ratio, 4) AS value,
               CASE WHEN needs_intra_key_split THEN 'split'
                    WHEN small_files_risk THEN 'coalesce'
                    ELSE 'ok' END AS verdict
        FROM ({s16})
        UNION ALL
        SELECT 'zone_maps', layout, skip_rate,
               CASE WHEN skip_rate > 0.5 THEN 'prunes'
                    ELSE 'sort_or_zorder' END
        FROM ({s18})
        UNION ALL
        SELECT 'encodings', col, avg_run_len, encoding
        FROM ({s19})
        ORDER BY family, item
    """


@REGISTRY.register(
    name="pipeline_storage",
    survey_ref="training-data (composed: s16 + s18 + s19 storage card); "
    "the fifth review card (eval, experiment, forecast, governance, "
    "storage)",
    doc="the table-layout review in ONE long-format card: partitioning "
    "skew verdicts (s16 — split / coalesce / ok per candidate "
    "column), zone-map pruning rates (s18 — prunes vs needs "
    "sort/z-order per layout), and encoding picks (s19 — per-column "
    "run lengths with the dict/rle/plain verdict). Oracle reuses "
    "the three parts' exact SQL as subqueries (the card "
    "discipline); the Spark side loads documents and lineitem once, "
    "passes each to the parts' builders that read it, and reshapes. "
    "Everything is footer-stat-sized aggregates — the whole card "
    "reads at planning cost.",
    oracle=_storage_oracle(),
)
def pipeline_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.operators.scans_filters import (
        encoding_advisor,
        partition_plan,
        zonemap_audit,
    )

    li = load_table(spark, "lineitem", sf_dir)
    s16 = partition_plan(load_table(spark, "documents", sf_dir)).select(
        F.lit("partitioning").alias("family"),
        F.col("part_col").alias("item"),
        F.round("skew_ratio", 4).cast("double").alias("value"),
        F.when(F.col("needs_intra_key_split"), "split")
        .when(F.col("small_files_risk"), "coalesce")
        .otherwise("ok")
        .alias("verdict"),
    )
    s18 = zonemap_audit(li).select(
        F.lit("zone_maps").alias("family"),
        F.col("layout").alias("item"),
        F.col("skip_rate").cast("double").alias("value"),
        F.when(F.col("skip_rate") > 0.5, "prunes")
        .otherwise("sort_or_zorder")
        .alias("verdict"),
    )
    s19 = encoding_advisor(li).select(
        F.lit("encodings").alias("family"),
        F.col("col").alias("item"),
        F.col("avg_run_len").cast("double").alias("value"),
        F.col("encoding").alias("verdict"),
    )
    return s16.unionByName(s18).unionByName(s19).orderBy("family", "item")
