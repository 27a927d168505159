"""Lexical retrieval & hybrid fusion — BM25 + reciprocal-rank fusion.

The reference's retrieval layer is vector-only: cosine top-k over
`Result.embedding` with score thresholds (`neo4j_rag.py:256-279`).
Production RAG systems pair that with a lexical scorer — exact-term
matches that embedding similarity blurs (identifiers, rare names) —
and fuse the two rankings. This module supplies that missing half:

- **BM25 top-k** (`t22`): Okapi BM25 (k1=1.2, b=0.75) over the
  `documents` table for a fixed query-term set.
- **Hybrid RRF** (`t23`): reciprocal-rank fusion (Cormack et al.,
  SIGIR'09: score = Σ 1/(60+rank)) of the BM25 top-20 and the cosine
  top-20 for the same query.

Scale design — the BM25 plan deliberately avoids the textbook
inverted-index shuffle. Term frequencies for a *fixed* query-term set
are array higher-order functions (`F.filter` + `F.size`) evaluated
per document: corpus-side the whole computation is TWO map-only scans
(one 1-row stats aggregate, one scoring pass) and a
TakeOrderedAndProject — the corpus is never shuffled, never exploded.
At 100 TB that is the difference between streaming the scan and
materializing a token-level exchange ~20× the corpus size. The fusion
stage touches only the two k-row top lists.

Float discipline: every scoring expression is written with the SAME
literal parenthesization in the Spark column expression and the DuckDB
oracle (left-associative, explicit casts), and the final score is
rounded to 6 before ordering — so ranking ties break identically on
both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, persist_once

REGISTRY = Registry()

# Fixed query-term set (fixture corpus vocabulary; stands in for the
# tokenized user query a search endpoint would supply).
QUERY_TERMS = ["spark", "merge", "stream"]
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60  # the SIGIR'09 constant
TOPN_PER_LIST = 20  # depth of each list entering the fusion


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score for QUERY_TERMS (docs w/ score>0 only).

    Two map-only corpus passes joined through a broadcast 1-row stats
    frame; no corpus shuffle (see module docstring).
    """
    docs = load_table(spark, "documents", sf_dir)
    return bm25_scores(docs)


def bm25_scores(docs: DataFrame) -> DataFrame:
    """BM25 scoring over any (doc_id, text) frame.

    Terms come from the f31 class-aware pretokenizer
    (``lexical_terms``: lowercase + GPT-style class split + leading
    space stripped), NOT a bare split(' ') — so 'Spark.' and 'spark'
    are the same term (pinned by tests/test_retrieval_tokens.py).
    """
    from ai_iceberg_demo_spark.functions.text import lexical_terms

    # materialize the term array once per row — the regex extract is
    # the expensive part; the per-term counts are cheap array HOFs
    toked = docs.select("doc_id", lexical_terms(F.col("text")).alias("t"))

    def _tf(term: str):
        # one-arg closure: F.filter inspects lambda arity, so a
        # default-arg lambda (2 params) would receive the element
        # INDEX as its second argument
        return F.size(F.filter(F.col("t"), lambda x: x == F.lit(term)))

    feat_cols = [F.size("t").alias("dl")] + [
        _tf(t).alias(f"tf{i}") for i, t in enumerate(QUERY_TERMS)
    ]
    feat = toked.select("doc_id", *feat_cols)

    stats = feat.agg(
        F.count("*").cast("double").alias("nd"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )

    scored = feat.crossJoin(F.broadcast(stats))
    contribs = []
    for i in range(len(QUERY_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}")
        idf = F.log(F.lit(1.0) + (F.col("nd") - df + F.lit(0.5)) / (df + F.lit(0.5)))
        den = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        contribs.append(idf * (tf * F.lit(BM25_K1 + 1.0)) / den)
    score = F.round(contribs[0] + contribs[1] + contribs[2], 6)
    return scored.select("doc_id", score.alias("score")).filter(F.col("score") > 0)


# Shared DuckDB replay of _bm25_scored (CTE bodies; callers wrap).
# Term extraction is the lexical_terms_sql twin of the f31
# pretokenizer — the same normalization the Spark side uses.
def _feat_sql() -> str:
    from ai_iceberg_demo_spark.functions.text import lexical_terms_sql

    return f"""
        toks AS (
            SELECT doc_id, {lexical_terms_sql("text")} AS t
            FROM documents
        ), feat AS (
            SELECT doc_id,
                   LEN(t) AS dl,
                   LEN(LIST_FILTER(t, x -> x = 'spark')) AS tf0,
                   LEN(LIST_FILTER(t, x -> x = 'merge')) AS tf1,
                   LEN(LIST_FILTER(t, x -> x = 'stream')) AS tf2
            FROM toks
        ), stats AS ("""


_BM25_FEAT_SQL = _feat_sql() + """
            SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                   CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                   CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                   CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
            FROM feat
        ), bm25 AS (
            SELECT doc_id,
                   ROUND(
                     LN(1.0 + (nd - df0 + 0.5) / (df0 + 0.5))
                       * (CAST(tf0 AS DOUBLE) * 2.2)
                       / (CAST(tf0 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                     + LN(1.0 + (nd - df1 + 0.5) / (df1 + 0.5))
                       * (CAST(tf1 AS DOUBLE) * 2.2)
                       / (CAST(tf1 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                     + LN(1.0 + (nd - df2 + 0.5) / (df2 + 0.5))
                       * (CAST(tf2 AS DOUBLE) * 2.2)
                       / (CAST(tf2 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))),
                   6) AS score
            FROM feat CROSS JOIN stats
        )"""


@REGISTRY.register(
    name="t22_bm25_topk",
    survey_ref="training-data (lexical retrieval); complements V3",
    doc="Okapi BM25 top-10 over documents for a fixed query-term set "
    "(k1=1.2, b=0.75). Corpus-shuffle-free plan: term frequencies are "
    "array HOFs, global stats a broadcast 1-row aggregate, top-k a "
    "TakeOrderedAndProject — the lexical half the reference's "
    "vector-only RAG (neo4j_rag.py:256-279) lacks.",
    oracle="WITH "
    + _BM25_FEAT_SQL
    + """
        SELECT doc_id, score FROM bm25
        WHERE score > 0
        ORDER BY score DESC, doc_id
        LIMIT 10
    """,
)
def t22_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@REGISTRY.register(
    name="t23_hybrid_rrf",
    survey_ref="training-data (hybrid retrieval); V3+lexical fusion",
    doc="hybrid retrieval: reciprocal-rank fusion (1/(60+rank), "
    "Cormack SIGIR'09) of the BM25 top-20 and the cosine top-20 for "
    "query vec_id=0 (doc_id≡vec_id in the fixtures). Each list is a "
    "TakeOrderedAndProject over its scan; ranking and fusion touch "
    "only the 2×20 surviving rows, so the fusion cost is O(k) at any "
    "corpus size.",
    oracle="WITH "
    + _BM25_FEAT_SQL
    + """
        , lex AS (
            SELECT doc_id, score FROM bm25 WHERE score > 0
            ORDER BY score DESC, doc_id LIMIT 20
        ), lexr AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS lex_rank
            FROM lex
        ), q AS (
            SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
        ), vec AS (
            SELECT e.vec_id AS doc_id,
                   ROUND(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[]))
                         / (SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                            * SQRT(LIST_DOT_PRODUCT(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))),
                     6) AS vscore
            FROM embeddings e, q
            ORDER BY vscore DESC, doc_id LIMIT 20
        ), vecr AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS INT) AS vec_rank
            FROM vec
        )
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank AS lex_rank,
               v.vec_rank AS vec_rank,
               ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0.0)
                     + COALESCE(1.0 / (60 + v.vec_rank), 0.0), 6) AS rrf
        FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
        ORDER BY rrf DESC, doc_id
        LIMIT 10
    """,
)
def t23_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ai_iceberg_demo_spark.vector.similarity import cosine

    lex = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(TOPN_PER_LIST)
    )
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("lex_rank"),
    )

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    vec = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine("embedding", "qvec"), 6).alias("vscore"),
        )
        .orderBy(F.desc("vscore"), F.asc("doc_id"))
        .limit(TOPN_PER_LIST)
    )
    vecr = vec.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("vscore"), F.asc("doc_id")))
        .alias("vec_rank"),
    )

    fused = lexr.join(vecr, "doc_id", "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    return (
        fused.select("doc_id", "lex_rank", "vec_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# v14: MMR diverse re-ranking
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_K = 5  # diverse results selected from the top-20 candidate pool

_COS6 = (
    "ROUND(LIST_DOT_PRODUCT(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (SQRT(LIST_DOT_PRODUCT(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * SQRT(LIST_DOT_PRODUCT(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[])))), 6)"
)


def _mmr_oracle_sql() -> str:
    """Unrolled MMR selection: one CTE pair (pick, cumulative selected
    set) per rank — the greedy loop is exactly SQL-expressible because
    K is fixed and every score is rounded before the argmax."""
    sim = _COS6.format(a="c.embedding", b="se.embedding")
    parts = [
        f"""cand AS (
            SELECT e.vec_id, e.embedding,
                   {_COS6.format(a="e.embedding", b="q.qvec")} AS rel
            FROM embeddings e, (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0) q
            ORDER BY rel DESC, e.vec_id LIMIT 20
        )"""
    ]
    for k in range(1, MMR_K + 1):
        if k == 1:
            maxsim = "0.0"
            not_in = ""
        else:
            maxsim = (
                f"(SELECT MAX({sim}) FROM cand se "
                f"WHERE se.vec_id IN (SELECT vec_id FROM sel{k - 1}))"
            )
            not_in = f"WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1})"
        parts.append(
            f"""s{k} AS (
            SELECT c.vec_id, CAST({k} AS INT) AS rank,
                   ROUND({MMR_LAMBDA} * c.rel - {round(1 - MMR_LAMBDA, 10)} * {maxsim}, 6) AS mmr
            FROM cand c {not_in}
            ORDER BY mmr DESC, c.vec_id LIMIT 1
        )"""
        )
        union = " UNION ALL ".join(f"SELECT vec_id FROM s{i}" for i in range(1, k + 1))
        parts.append(f"sel{k} AS ({union})")
    final = " UNION ALL ".join(
        f"SELECT vec_id, rank, mmr FROM s{k}" for k in range(1, MMR_K + 1)
    )
    return "WITH " + ", ".join(parts) + " " + final


@REGISTRY.register(
    name="v14_mmr_rerank",
    survey_ref="training-data (diverse retrieval); V3 family",
    doc=f"maximal-marginal-relevance re-rank (λ={MMR_LAMBDA}): greedily "
    f"pick {MMR_K} results from the cosine top-20 maximizing "
    "λ·relevance − (1−λ)·max-similarity-to-already-selected — the "
    "standard RAG diversity step the reference's plain top-k "
    "(neo4j_rag.py:256-279) lacks. The candidate pool is a "
    "TakeOrderedAndProject over the corpus; the greedy loop touches "
    "only the 20-row pool (persisted), so selection cost is O(K²·k) "
    "at any corpus size. Every score rounds before each argmax, which "
    "is what makes the fixed-K greedy loop exactly SQL-replayable.",
    oracle=_mmr_oracle_sql(),
)
def v14_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.vector.similarity import cosine

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    cand = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cosine("embedding", "qvec"), 6).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(20)
        # the greedy loop reads the pool K times — persist the 20 rows
        # so the corpus top-k scan runs once (driver clearCache reclaims)
        .transform(persist_once)
    )
    lam, mu = MMR_LAMBDA, round(1 - MMR_LAMBDA, 10)
    selected: DataFrame | None = None
    for k in range(1, MMR_K + 1):
        if selected is None:
            scored = cand.select(
                "vec_id",
                "embedding",
                F.round(F.lit(lam) * F.col("rel") - F.lit(mu) * F.lit(0.0), 6).alias("mmr"),
            )
        else:
            sel_embs = cand.join(selected.select("vec_id"), "vec_id").select(
                F.col("embedding").alias("sel_emb")
            )
            maxsim = (
                cand.join(selected.select("vec_id"), "vec_id", "left_anti")
                .crossJoin(F.broadcast(sel_embs))
                .groupBy("vec_id", "embedding", "rel")
                .agg(
                    F.max(
                        F.round(cosine("embedding", "sel_emb"), 6)
                    ).alias("maxsim")
                )
            )
            scored = maxsim.select(
                "vec_id",
                "embedding",
                F.round(
                    F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("maxsim"), 6
                ).alias("mmr"),
            )
        pick = (
            scored.orderBy(F.desc("mmr"), F.asc("vec_id"))
            .limit(1)
            .select("vec_id", F.lit(k).cast("int").alias("rank"), "mmr")
        )
        # localCheckpoint: each pick's plan otherwise nests all prior
        # rounds' joins; K tiny frames cut lineage instead
        pick = pick.localCheckpoint(eager=True)
        selected = pick if selected is None else selected.unionByName(pick)
    return selected


# ---------------------------------------------------------------------------
# t46: nDCG@10 evaluation of the BM25 ranking
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t46_ndcg_eval",
    survey_ref="training-data (retrieval evaluation); t22's meter",
    doc="nDCG@10 of the t22 BM25 ranking against a graded relevance "
    "standard (relevance = how many distinct query terms the doc "
    "contains, 0-3 — deterministic, so the whole metric is exact): "
    "DCG over the BM25 top-10, ideal DCG over the true top relevance "
    "grades, one ratio. THE ranking-quality number every retrieval "
    "change is judged by; computing it in-engine means eval runs "
    "where the index lives, on the full corpus, not a sampled "
    "notebook. Costs one extra corpus pass for grades (map-only "
    "HOFs) on top of t22's plan; the DCG arithmetic touches 10 rows.",
    oracle="WITH "
    + _feat_sql()
    + """
            SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                   CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                   CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                   CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
            FROM feat
        ), bm25 AS (
            SELECT doc_id,
                   ROUND(
                     LN(1.0 + (nd - df0 + 0.5) / (df0 + 0.5))
                       * (CAST(tf0 AS DOUBLE) * 2.2)
                       / (CAST(tf0 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                     + LN(1.0 + (nd - df1 + 0.5) / (df1 + 0.5))
                       * (CAST(tf1 AS DOUBLE) * 2.2)
                       / (CAST(tf1 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                     + LN(1.0 + (nd - df2 + 0.5) / (df2 + 0.5))
                       * (CAST(tf2 AS DOUBLE) * 2.2)
                       / (CAST(tf2 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))),
                   6) AS score
            FROM feat CROSS JOIN stats
        ), rel AS (
            SELECT doc_id,
                   (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
                    + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
                    + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS grade
            FROM feat
        ), ranked AS (
            SELECT b.doc_id, r.grade,
                   ROW_NUMBER() OVER (ORDER BY b.score DESC, b.doc_id) AS pos
            FROM bm25 b JOIN rel r ON r.doc_id = b.doc_id
            WHERE b.score > 0
        ), dcg AS (
            SELECT SUM((POWER(2, grade) - 1) / LOG2(pos + 1.0)) AS dcg
            FROM ranked WHERE pos <= 10
        ), ideal AS (
            SELECT SUM((POWER(2, grade) - 1) / LOG2(ipos + 1.0)) AS idcg
            FROM (SELECT grade,
                         ROW_NUMBER() OVER (ORDER BY grade DESC, doc_id) AS ipos
                  FROM rel) WHERE ipos <= 10
        )
        SELECT ROUND(dcg.dcg, 6) AS dcg_at_10,
               ROUND(ideal.idcg, 6) AS idcg_at_10,
               ROUND(dcg.dcg / ideal.idcg, 6) AS ndcg_at_10
        FROM dcg CROSS JOIN ideal
    """,
)
def t46_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.functions.text import lexical_terms

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", lexical_terms(F.col("text")).alias("t"))
    grade = sum(
        F.when(F.size(F.filter(F.col("t"), lambda x: x == F.lit(term))) > 0, 1).otherwise(0)
        for term in QUERY_TERMS
    )
    rel = toked.select("doc_id", grade.alias("grade"))
    scored = _bm25_scored(spark, sf_dir)
    ranked = (
        scored.join(rel, "doc_id")
        .withColumn(
            "pos", F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        )
        .filter(F.col("pos") <= 10)
    )
    dcg = ranked.agg(
        F.sum((F.pow(2.0, F.col("grade")) - 1) / F.log2(F.col("pos") + 1.0)).alias("dcg")
    )
    ideal = (
        rel.withColumn(
            "ipos", F.row_number().over(W.orderBy(F.desc("grade"), F.asc("doc_id")))
        )
        .filter(F.col("ipos") <= 10)
        .agg(
            F.sum((F.pow(2.0, F.col("grade")) - 1) / F.log2(F.col("ipos") + 1.0)).alias(
                "idcg"
            )
        )
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        F.round("dcg", 6).alias("dcg_at_10"),
        F.round("idcg", 6).alias("idcg_at_10"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
    )


# ---------------------------------------------------------------------------
# t71: inverted-index build (the posting table BM25 probes against)
# ---------------------------------------------------------------------------


def _t71_oracle() -> str:
    from ai_iceberg_demo_spark.functions.text import lexical_terms_sql

    return f"""
        WITH toked AS (
            SELECT doc_id, {lexical_terms_sql("text")} AS t FROM documents
        ), posting AS (
            SELECT doc_id, UNNEST(t) AS term FROM toked
        ), tf AS (
            SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
            FROM posting GROUP BY term, doc_id
        ), stats AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term
        ), n AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents
        )
        SELECT t.term, t.doc_id, t.tf, s.df,
               ROUND(LN(1.0 + (n.nd - s.df + 0.5) / (s.df + 0.5)), 6) AS idf
        FROM tf t JOIN stats s USING (term) CROSS JOIN n
    """


@REGISTRY.register(
    name="t71_inverted_index",
    survey_ref="training-data / retrieval (index build); t22 SCORES "
    "against per-query term stats — this MATERIALIZES the full "
    "posting table a search service serves from",
    doc="inverted index as a relation: one posting row per (term, "
    "doc_id) with the term frequency, each carrying the term's "
    "document frequency and smoothed idf ln(1 + (N - df + 0.5)/(df "
    "+ 0.5)) (t22's BM25 idf — the two spell the same statistic, "
    "shared f31 class-aware tokenizer). Posting lists as ROWS, not "
    "arrays: at 100 TB a term's postings must shard across "
    "executors, and the relational spelling is exactly what a "
    "term-bucketed Iceberg table stores. ONE (term, doc) wordcount "
    "shuffle + a per-term partial agg re-joined term-keyed; the "
    "vocab-side stats table broadcasts.",
    oracle=_t71_oracle(),
)
def t71_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import lexical_terms

    docs = load_table(spark, "documents", sf_dir)
    nd = float(docs.count())
    posting = docs.select(
        "doc_id", F.explode(lexical_terms(F.col("text"))).alias("term")
    )
    tf = posting.groupBy("term", "doc_id").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    stats = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.round(
        F.log(F.lit(1.0) + (F.lit(nd) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        6,
    )
    return tf.join(F.broadcast(stats), "term").select(
        "term", "doc_id", "tf", "df", idf.alias("idf")
    )


# ---------------------------------------------------------------------------
# t85: pseudo-relevance-feedback expansion, served FROM the t71 index
# ---------------------------------------------------------------------------

_T85_FEEDBACK_K = 5
_T85_EXPAND_N = 3


def _t85_oracle() -> str:
    from ai_iceberg_demo_spark.functions.text import lexical_terms_sql

    q0 = ", ".join(f"'{t}'" for t in QUERY_TERMS)
    return f"""
        WITH toked AS (
            SELECT doc_id, {lexical_terms_sql("text")} AS t FROM documents
        ), posting AS (
            SELECT doc_id, UNNEST(t) AS term FROM toked
        ), tf AS (
            SELECT term, doc_id, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM posting GROUP BY term, doc_id
        ), stats AS (
            SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term
        ), dl AS (
            SELECT doc_id, CAST(LEN(t) AS DOUBLE) AS dl FROM toked
        ), g AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS nd, AVG(dl) AS avgdl FROM dl
        ), idx AS (
            SELECT t.term, t.doc_id, t.tf, d.dl,
                   LN(1.0 + (g.nd - s.df + 0.5) / (s.df + 0.5)) AS idf,
                   t.tf * ({BM25_K1} + 1.0)
                       / (t.tf + {BM25_K1} * (1.0 - {BM25_B}
                          + {BM25_B} * d.dl / g.avgdl)) AS tfn
            FROM tf t
            JOIN stats s USING (term)
            JOIN dl d USING (doc_id)
            CROSS JOIN g
        ), pass1 AS (
            SELECT doc_id, ROUND(SUM(idf * tfn), 6) AS score
            FROM idx WHERE term IN ({q0})
            GROUP BY doc_id
        ), top1 AS (
            SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
            FROM pass1
        ), feedback AS (
            SELECT doc_id FROM top1 WHERE rn <= {_T85_FEEDBACK_K}
        ), exp_terms AS (
            SELECT term FROM (
                SELECT i.term, ROUND(SUM(i.tf * i.idf), 6) AS w,
                       ROW_NUMBER() OVER (ORDER BY ROUND(SUM(i.tf * i.idf), 6)
                                          DESC, i.term) AS rn
                FROM idx i JOIN feedback f USING (doc_id)
                WHERE i.term NOT IN ({q0})
                GROUP BY i.term) WHERE rn <= {_T85_EXPAND_N}
        ), expanded AS (
            SELECT term FROM exp_terms
            UNION ALL SELECT UNNEST([{q0}])
        ), pass2 AS (
            SELECT i.doc_id, ROUND(SUM(i.idf * i.tfn), 6) AS score
            FROM idx i JOIN expanded e ON e.term = i.term
            GROUP BY i.doc_id
        ), top2 AS (
            SELECT doc_id, score,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
            FROM pass2
        ), label AS (
            SELECT ARRAY_TO_STRING(LIST(term ORDER BY term), ',') AS exp
            FROM exp_terms
        )
        SELECT t.rn AS rank, t.doc_id, t.score,
               f.doc_id IS NOT NULL AS was_in_feedback,
               l.exp AS expansion_terms
        FROM top2 t
        LEFT JOIN feedback f USING (doc_id)
        CROSS JOIN label l
        WHERE t.rn <= {_T85_FEEDBACK_K}
        ORDER BY t.rn
    """


@REGISTRY.register(
    name="t85_prf_expansion",
    survey_ref="retrieval extra (Rocchio pseudo-relevance feedback); "
    "t22 scores a FIXED query — PRF learns expansion terms from the "
    "first pass's top docs, the classic recall lever; and both "
    "passes are served FROM t71's posting relation, proving the "
    "index answers queries, not just builds",
    doc=f"two-pass PRF: BM25 over the base query via the t71 posting "
    f"relation (terms join the index — no per-term closures, which "
    "is what makes DYNAMIC queries possible where t22's fixed-column "
    f"spelling cannot), top-{_T85_FEEDBACK_K} feedback docs, top-"
    f"{_T85_EXPAND_N} expansion terms by tf·idf mass within the "
    "feedback set (base terms excluded), re-score with the expanded "
    "term set. Output: the final top-5 with was_in_feedback flags "
    "and the expansion terms. Scale: both passes are term-keyed "
    "joins against the (persisted) index — query terms broadcast, "
    "only matching postings move; the feedback term-mass agg runs "
    f"over {_T85_FEEDBACK_K} docs' postings.",
    oracle=_t85_oracle(),
)
def t85_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.functions.text import lexical_terms
    from ai_iceberg_demo_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", lexical_terms(F.col("text")).alias("t")).transform(persist_once)
    posting = toked.select("doc_id", F.explode("t").alias("term"))
    tf = posting.groupBy("term", "doc_id").agg(
        F.count("*").cast("double").alias("tf")
    )
    stats = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    dl = toked.select("doc_id", F.size("t").cast("double").alias("dl"))
    g = dl.agg(F.count("*").cast("double").alias("nd"), F.avg("dl").alias("avgdl"))
    idf = F.log(1.0 + (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfn = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    idx = (
        tf.join(F.broadcast(stats), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(g))
        .select("term", "doc_id", "tf", idf.alias("idf"), tfn.alias("tfn"))
        .transform(persist_once)
    )
    q0 = list(QUERY_TERMS)
    pass1 = (
        idx.filter(F.col("term").isin(*q0))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("idf") * F.col("tfn")), 6).alias("score"))
    )
    w_rank = W.orderBy(F.desc("score"), F.asc("doc_id"))
    feedback = (
        pass1.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= _T85_FEEDBACK_K)
        .select("doc_id")
    )
    exp_terms = (
        idx.join(F.broadcast(feedback), "doc_id")
        .filter(~F.col("term").isin(*q0))
        .groupBy("term")
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 6).alias("w"))
        .withColumn("rn", F.row_number().over(W.orderBy(F.desc("w"), F.asc("term"))))
        .filter(F.col("rn") <= _T85_EXPAND_N)
        .select("term")
    )
    expanded = exp_terms.unionAll(
        toked.sparkSession.createDataFrame([(t,) for t in q0], "term string")
    )
    pass2 = (
        idx.join(F.broadcast(expanded), "term")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("idf") * F.col("tfn")), 6).alias("score"))
    )
    label = exp_terms.agg(
        F.array_join(F.sort_array(F.collect_list("term")), ",").alias(
            "expansion_terms"
        )
    )
    return (
        pass2.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _T85_FEEDBACK_K)
        .join(
            F.broadcast(feedback.withColumn("_fb", F.lit(True))), "doc_id", "left"
        )
        .crossJoin(F.broadcast(label))
        .select(
            "rank",
            "doc_id",
            "score",
            F.coalesce("_fb", F.lit(False)).alias("was_in_feedback"),
            "expansion_terms",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# t95: rank-biased overlap between two rankers (how much does idf matter?)
# ---------------------------------------------------------------------------

_T95_DEPTH = 10
_T95_P = 0.9  # RBO persistence: ~expected viewing depth 1/(1-p) = 10


def _t95_oracle() -> str:
    return (
        "WITH "
        + _feat_sql()
        + f"""
            SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
                   CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
                   CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                   CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
            FROM feat
        ), scored AS (
            SELECT doc_id,
                   ROUND(
                     LN(1.0 + (nd - df0 + 0.5) / (df0 + 0.5))
                       * (CAST(tf0 AS DOUBLE) * 2.2)
                       / (CAST(tf0 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                     + LN(1.0 + (nd - df1 + 0.5) / (df1 + 0.5))
                       * (CAST(tf1 AS DOUBLE) * 2.2)
                       / (CAST(tf1 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))
                     + LN(1.0 + (nd - df2 + 0.5) / (df2 + 0.5))
                       * (CAST(tf2 AS DOUBLE) * 2.2)
                       / (CAST(tf2 AS DOUBLE)
                          + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))),
                   6) AS score_a,
                   CAST(tf0 + tf1 + tf2 AS DOUBLE) AS score_b
            FROM feat CROSS JOIN stats
        ), ra AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_a DESC, doc_id)
                       AS pos
            FROM scored WHERE score_a > 0
        ), rb AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_b DESC, doc_id)
                       AS pos
            FROM scored WHERE score_b > 0
        ), depths AS (
            SELECT UNNEST(GENERATE_SERIES(1, {_T95_DEPTH})) AS d
        ), overlap AS (
            SELECT d.d,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM depths d
            LEFT JOIN ra a ON a.pos <= d.d
            LEFT JOIN rb b ON b.pos <= d.d AND b.doc_id = a.doc_id
            WHERE b.doc_id IS NOT NULL
            GROUP BY d.d
        ), terms AS (
            SELECT d.d, COALESCE(o.n_common, 0) AS n_common,
                   COALESCE(o.n_common, 0) / CAST(d.d AS DOUBLE)
                       * POW({_T95_P}, d.d - 1) AS wterm
            FROM depths d LEFT JOIN overlap o ON o.d = d.d
        )
        SELECT CAST(d AS INT) AS depth, n_common,
               ROUND(n_common / CAST(d AS DOUBLE), 4) AS agreement_at_d,
               ROUND((1 - {_T95_P}) * SUM(wterm)
                     OVER (ORDER BY d ROWS UNBOUNDED PRECEDING), 6)
                   AS rbo_min
        FROM terms ORDER BY depth
    """
    )


@REGISTRY.register(
    name="t95_rank_biased_overlap",
    survey_ref="retrieval extra (ranker comparison WITHOUT relevance "
    "judgments); t46 needs graded qrels — RBO compares two rankings "
    "directly, the first check before any costly judged eval",
    doc=f"rank-biased overlap (Webber et al. 2010, p={_T95_P}) between "
    "the BM25 ranking and the idf-free raw-TF ranking over the same "
    "corpus and terms (t46's shared feature CTE): per depth d ≤ "
    f"{_T95_DEPTH}, the prefix intersection size, the agreement "
    "|A∩B|/d, and the cumulative top-weighted RBO lower bound — "
    "top-weighted because disagreement at rank 1 matters more than "
    "at rank 10 (plain Kendall weights them equally). The readout "
    "IS 'how much does idf change what users see'. Both rankings "
    "come from ONE corpus pass; the overlap table is depth² "
    "bounded (10×10 prefixes).",
    oracle=_t95_oracle(),
)
def t95_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.functions.text import lexical_terms
    from ai_iceberg_demo_spark.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    toked = docs.select("doc_id", lexical_terms(F.col("text")).alias("t"))

    def tf(term):
        return F.size(F.filter(F.col("t"), lambda x: x == F.lit(term)))

    feat = toked.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[tf(t).alias(f"tf{i}") for i, t in enumerate(QUERY_TERMS)],
    )
    stats = feat.agg(
        F.count("*").cast("double").alias("nd"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(QUERY_TERMS))
        ],
    )
    sc = feat.crossJoin(F.broadcast(stats))
    contribs = []
    for i in range(len(QUERY_TERMS)):
        tfc = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}")
        idf = F.log(1.0 + (F.col("nd") - df + 0.5) / (df + 0.5))
        den = tfc + 1.2 * (0.25 + 0.75 * F.col("dl").cast("double") / F.col("avgdl"))
        contribs.append(idf * tfc * 2.2 / den)
    scored = sc.select(
        "doc_id",
        F.round(contribs[0] + contribs[1] + contribs[2], 6).alias("score_a"),
        (F.col("tf0") + F.col("tf1") + F.col("tf2")).cast("double").alias(
            "score_b"
        ),
    )
    ra = (
        scored.filter(F.col("score_a") > 0)
        .withColumn(
            "pos", F.row_number().over(W.orderBy(F.desc("score_a"), F.asc("doc_id")))
        )
        .select("doc_id", "pos")
    )
    rb = (
        scored.filter(F.col("score_b") > 0)
        .withColumn(
            "pos", F.row_number().over(W.orderBy(F.desc("score_b"), F.asc("doc_id")))
        )
        .select("doc_id", "pos")
    )
    depths = toked.sparkSession.range(1, _T95_DEPTH + 1).select(
        F.col("id").alias("d")
    )
    overlap = (
        depths.join(F.broadcast(ra), F.col("pos") <= F.col("d"))
        .join(
            F.broadcast(rb.withColumnRenamed("pos", "pos_b")),
            "doc_id",
        )
        .filter(F.col("pos_b") <= F.col("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    terms = depths.join(overlap, "d", "left").select(
        "d",
        F.coalesce("n_common", F.lit(0)).alias("n_common"),
        (
            F.coalesce("n_common", F.lit(0)) / F.col("d").cast("double")
            * F.pow(F.lit(_T95_P), F.col("d") - 1)
        ).alias("wterm"),
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, 0)
    return terms.select(
        F.col("d").cast("int").alias("depth"),
        "n_common",
        F.round(F.col("n_common") / F.col("d").cast("double"), 4).alias(
            "agreement_at_d"
        ),
        F.round((1 - _T95_P) * F.sum("wterm").over(w), 6).alias("rbo_min"),
    ).orderBy("depth")
