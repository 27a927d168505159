"""Dedup operators (vector/dedup.py): planted-signal and consistency
properties beyond the oracle hash."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_intradoc_span_dedup_removes_planted_stutter(spark):
    """d13: the salted doubled tail ('loop echo loop echo stutter' ×2)
    must lose exactly its second copy (5 tokens) on every salted doc;
    unsalted docs — which have no repeated within-doc 5-gram — must
    come through untouched, clean_text == original text."""
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.vector.dedup import d13_intradoc_span_dedup
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    out = d13_intradoc_span_dedup(spark, SF_DIR)
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    joined = out.join(docs, "doc_id").collect()
    assert joined
    for r in joined:
        if r["doc_id"] % 6 == 0:
            assert r["n_removed"] == 5, r["doc_id"]
            assert r["clean_text"] == r["text"] + " loop echo loop echo stutter"
        else:
            assert r["n_removed"] == 0, r["doc_id"]
            assert r["clean_text"] == r["text"]


def test_bag_of_words_dedup_catches_reordered_plants(spark):
    """d22: the bag signature must collapse every planted token-reversed
    copy that the exact fingerprint misses, the tier counts must nest
    (n_docs >= n_exact_unique >= n_bag_unique), and plants_caught must
    hold (the gap covers at least the plant count)."""
    from ai_iceberg_demo_spark.vector.dedup import d22_bag_of_words_dedup
    from tests.conftest import SF_DIR

    r = d22_bag_of_words_dedup(spark, SF_DIR).first()
    assert r["n_docs"] >= r["n_exact_unique"] >= r["n_bag_unique"]
    assert r["n_order_only_dups"] > 0
    assert r["plants_caught"] is True


def test_documents_fixture_has_unique_doc_ids(spark):
    """minhash_sigs emits one signature per input ROW and t114 computes
    per-row distinct ratios against an oracle that groups by doc_id —
    both are correct only while documents.doc_id is unique."""
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    n, n_ids = docs.agg(PF.count("*"), PF.countDistinct("doc_id")).first()
    assert n > 0 and n == n_ids


def test_d27_detection_degrades_with_shingle_size(spark):
    from ai_iceberg_demo_spark.vector.dedup import d27_shingle_sensitivity

    out = d27_shingle_sensitivity(spark, SF_DIR).toPandas().sort_values("shingle_n")
    assert (out.mean_jaccard.diff().dropna() <= 1e-9).all(), (
        "larger shingles must not raise Jaccard under a fixed mutation"
    )
    assert out.n_pairs.nunique() == 1  # same planted pairs at every n
    assert (out.n_detected <= out.n_pairs).all()


def test_d28_counts_are_consistent(spark):
    from ai_iceberg_demo_spark.vector.dedup import d28_transitivity_audit

    r = d28_transitivity_audit(spark, SF_DIR).toPandas().iloc[0]
    assert r.n_closed <= r.n_paths2
    assert abs(
        r.violation_rate - (1 - r.n_closed / r.n_paths2 if r.n_paths2 else 0)
    ) < 1e-3
    assert r.n_edges >= 0 and r.n_paths2 >= 0
