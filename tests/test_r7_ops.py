"""Round-7 operators: BPE merge learning and Fellegi–Sunter linkage.

The hash oracles (tests/test_queries_oracle.py) pin bit-equality with
DuckDB; these tests pin the SEMANTICS the oracle can't see — that the
learned merges are the argmax the BPE definition demands, and that the
linkage decisions land exactly on the planted truth.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from ai_iceberg_demo_spark.tables import load_table
from tests.conftest import SF_DIR


def test_bpe_first_merge_is_the_true_argmax_and_counts_decay(spark):
    from ai_iceberg_demo_spark.functions.text import t97_bpe_train

    rows = sorted(t97_bpe_train(spark, SF_DIR).collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == [1, 2, 3]

    # independent reference: weighted char-bigram count over word TYPES
    words = Counter(
        w
        for r in load_table(spark, "documents", SF_DIR)
        .filter(F.col("doc_id") % 5 == 0)
        .select("text")
        .collect()
        for w in r["text"].split(" ")
        if w
    )
    pairs = Counter()
    for w, freq in words.items():
        for a, b in zip(w, w[1:]):
            pairs[(a, b)] += freq
    best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
    assert (rows[0]["merge_left"], rows[0]["merge_right"]) == best[0]
    assert rows[0]["pair_count"] == best[1]

    # merging the max pair can only shrink the next max (any new pair
    # involves the merged token and inherits at most its count)
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    # later merges may consume earlier merged tokens, but every merge
    # must be over non-empty symbols
    assert all(r["merge_left"] and r["merge_right"] for r in rows)


def test_entity_resolution_matches_are_exactly_the_planted_links(spark):
    from ai_iceberg_demo_spark.operators.joins import j12_entity_resolution

    out = j12_entity_resolution(spark, SF_DIR).collect()
    matches = {(r["a_id"], r["b_id"]) for r in out if r["decision"] == "match"}
    planted = {
        (k, k + 1_000_000)
        for (k,) in load_table(spark, "customer", SF_DIR)
        .filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey")
        .collect()
    }
    # every planted CRM row links back to its master as a 'match'
    # (names agree, jitter ≤ 0.01 < the 0.02 balance band) and nothing
    # else can reach the match threshold (names are unique)
    assert matches == planted
    for r in out:
        if r["decision"] == "match":
            assert r["name_agree"] == 1
        assert r["score"] >= 1.0  # output keeps scored candidates only
    # chance balance agreements inside a block are 'possible', never
    # 'match'
    assert all(
        r["decision"] == "possible" for r in out if r["name_agree"] == 0
    )


def test_partition_evolution_spec1_scans_only_what_it_prunes_to(spark):
    """m20: under spec 1 (day, event_type) the read partitions contain
    ONLY the queried type → scan amplification exactly 1.0; under
    spec 0 (day only) every type in the day range is scanned → the
    amplification is ~n_types (5 on this fixture, within noise)."""
    from ai_iceberg_demo_spark.operators.mutations import m20_partition_evolution

    rows = {r["spec_id"]: r for r in m20_partition_evolution(spark, SF_DIR).collect()}
    assert set(rows) == {0, 1}
    assert rows[1]["rows_scanned"] == rows[1]["rows_matched"]
    assert rows[1]["scan_amplification"] == 1.0
    assert 4.0 <= rows[0]["scan_amplification"] <= 6.0
    # evolution buys strictly fewer read partitions per matched row
    assert rows[1]["n_partitions_read"] < rows[0]["n_partitions_read"] * 5
    assert rows[0]["n_partitions"] < rows[1]["n_partitions"]  # finer spec → more partitions


def test_asof_directions_on_crafted_truth(spark):
    """j13 semantics pinned on hand-computed truth: backward includes
    same-ts (allow-exact), forward is strictly-after, nearest ties to
    backward, tolerance nulls out matches beyond 1 hour."""
    from datetime import datetime, timezone

    from ai_iceberg_demo_spark.operators.joins import asof_directions

    def t(sec):
        return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)

    rows = [
        (1, t(100), 1, "click"),
        (1, t(200), 2, "click"),
        (1, t(10000), 3, "click"),
        (1, t(150), 10, "purchase"),   # tie 50s/50s -> backward
        (1, t(250), 11, "purchase"),   # fwd gap 9750s > 3600 -> back only
        (1, t(5000), 12, "purchase"),  # both gaps > 3600 -> all NULL
        (1, t(9999), 13, "purchase"),  # back over tol, fwd 1s -> fwd
        (1, t(100), 14, "purchase"),   # same-ts: back=1 (gap 0), fwd=2
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, event_type string"
    )
    got = {r["event_id"]: r for r in asof_directions(ev).collect()}
    assert (got[10]["back_id"], got[10]["fwd_id"], got[10]["nearest_id"]) == (1, 2, 1)
    assert got[10]["nearest_gap_us"] == 50_000_000
    assert (got[11]["back_id"], got[11]["fwd_id"], got[11]["nearest_id"]) == (2, None, 2)
    assert (got[12]["back_id"], got[12]["fwd_id"], got[12]["nearest_id"]) == (None, None, None)
    assert got[12]["nearest_gap_us"] is None
    assert (got[13]["back_id"], got[13]["fwd_id"], got[13]["nearest_id"]) == (None, 3, 3)
    assert got[13]["nearest_gap_us"] == 1_000_000
    assert (got[14]["back_id"], got[14]["fwd_id"], got[14]["nearest_id"]) == (1, 2, 1)
    assert got[14]["nearest_gap_us"] == 0


def test_x7_plans_arrow_eval_never_batch_eval(spark):
    from ai_iceberg_demo_spark.functions.udf_surface import x7_arrow_scalar_udf

    df = x7_arrow_scalar_udf(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_bpe_training_curve_is_monotone_and_consistent_with_merges(spark):
    """t99: token totals strictly decrease as merges land (every learned
    merge fires somewhere), compression is cumulative-monotone, and
    each round's drop never exceeds that round's pair_count (a merge
    removes at most one token per merged occurrence; two-pass replace
    can realize fewer on boundary-blocked runs, never more)."""
    from ai_iceberg_demo_spark.functions.text import (
        t97_bpe_train,
        t99_bpe_training_curve,
    )

    curve = sorted(t99_bpe_training_curve(spark, SF_DIR).collect(), key=lambda r: r["round"])
    merges = {r["round"]: r for r in t97_bpe_train(spark, SF_DIR).collect()}
    assert [r["round"] for r in curve] == [0, 1, 2, 3]
    totals = [r["tokens_total"] for r in curve]
    assert totals == sorted(totals, reverse=True) and len(set(totals)) == 4
    comps = [r["compression_pct"] for r in curve]
    assert comps[0] == 0.0 and comps == sorted(comps)
    for k in (1, 2, 3):
        assert (curve[k]["merge_left"], curve[k]["merge_right"]) == (
            merges[k]["merge_left"],
            merges[k]["merge_right"],
        )
        drop = curve[k - 1]["tokens_total"] - curve[k]["tokens_total"]
        assert 0 < drop <= merges[k]["pair_count"]
