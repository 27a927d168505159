"""BM25 + hybrid-RRF retrieval: result invariants and plan shapes.

Oracle parity (hash vs DuckDB) rides tests/test_queries_oracle.py like
every registered query; here we pin the properties the oracle can't
see — ranking structure and the shuffle-free plan the 100 TB story
depends on.
"""

from __future__ import annotations

from ai_iceberg_demo_spark.functions.retrieval import (
    QUERY_TERMS,
    RRF_K,
    t22_bm25_topk,
    t23_hybrid_rrf,
)
from tests.conftest import SF_DIR
from tests.test_plans import plan_of


def test_bm25_hits_contain_a_query_term_and_scores_descend(spark):
    rows = t22_bm25_topk(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)
    texts = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("doc_id in ({})".format(",".join(str(r["doc_id"]) for r in rows)))
        .collect()
    }
    for r in rows:
        assert any(t in texts[r["doc_id"]].split(" ") for t in QUERY_TERMS), r


def test_rrf_score_is_exactly_the_rank_formula(spark):
    rows = t23_hybrid_rrf(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        expect = 0.0
        if r["lex_rank"] is not None:
            expect += 1.0 / (RRF_K + r["lex_rank"])
        if r["vec_rank"] is not None:
            expect += 1.0 / (RRF_K + r["vec_rank"])
        assert abs(r["rrf"] - round(expect, 6)) < 1e-9, r
    rrfs = [r["rrf"] for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)


def test_bm25_plan_never_shuffles_or_explodes_the_corpus(spark):
    plan = plan_of(spark, "t22_bm25_topk")
    # term frequencies are array HOFs — no token explode
    assert "Generate" not in plan
    # the only exchange is the 1-row global-stats aggregate
    assert "Exchange hashpartitioning" not in plan
    assert "TakeOrderedAndProject" in plan


def test_hybrid_rrf_both_lists_are_topk_not_global_sorts(spark):
    plan = plan_of(spark, "t23_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Generate" not in plan


def test_mmr_matches_greedy_replay(spark):
    """Replay the MMR greedy loop in plain Python over the collected
    candidate pool — selection order and scores must match exactly."""
    from ai_iceberg_demo_spark.functions.retrieval import (
        MMR_K,
        MMR_LAMBDA,
        v14_mmr_rerank,
    )
    from ai_iceberg_demo_spark.tables import load_table
    from ai_iceberg_demo_spark.vector.similarity import cosine
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", SF_DIR)
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
        .collect()
    )
    import math

    def cos6(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return round(num / den, 6)

    pool = {r["vec_id"]: (r["rel"], [float(x) for x in r["embedding"]]) for r in cand}
    selected, expect = [], []
    mu = round(1 - MMR_LAMBDA, 10)
    for k in range(1, MMR_K + 1):
        best = None
        for vid, (rel, e) in sorted(pool.items()):
            if vid in selected:
                continue
            maxsim = max((cos6(e, pool[s][1]) for s in selected), default=0.0)
            mmr = round(MMR_LAMBDA * rel - mu * maxsim, 6)
            if best is None or mmr > best[1]:
                best = (vid, mmr)
        selected.append(best[0])
        expect.append((best[0], k, best[1]))

    got = [
        (r["vec_id"], r["rank"], r["mmr"])
        for r in sorted(v14_mmr_rerank(spark, SF_DIR).collect(), key=lambda r: r["rank"])
    ]
    assert got == expect
    assert len({v for v, _, _ in got}) == MMR_K


def test_t95_rbo_monotone_and_bounded(spark):
    from ai_iceberg_demo_spark.functions.retrieval import t95_rank_biased_overlap

    out = t95_rank_biased_overlap(spark, SF_DIR).toPandas().sort_values("depth")
    assert (out.rbo_min.diff().dropna() >= -1e-12).all(), "RBO bound accumulates"
    assert ((out.agreement_at_d >= 0) & (out.agreement_at_d <= 1)).all()
    assert ((out.rbo_min >= 0) & (out.rbo_min <= 1)).all()
    # prefix intersections can grow by at most 2 per depth step
    assert (out.n_common.diff().dropna() <= 2).all()
