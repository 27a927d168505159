"""Deduplication — SURVEY.md V7 generalized to training-data scale.

The reference dedups semantically: on a ≥0.8 cache hit it links the
existing Result instead of inserting a duplicate
(`neo4j_memory.py:574-688`; `ui/backend/main.py:354-366`). A 100 TB
training-data pipeline needs the full dedup toolbox; this module
implements each as declarative DataFrame ops:

- exact:        fingerprint (md5/xxhash64) groupBy — one shuffle on hash
- n-gram Jaccard: shingle_sets → all_overlaps (exact all-pairs) or
                band_pairs → pair_overlaps (at scale) → JACCARD
- MinHash+LSH:  affine-permutation minhash signatures, banded candidate join
- SimHash:      bitwise-majority signature + banded hamming join
- embedding:    cosine ≥ t within blocking buckets (label here; LSH
                bucket in production), canonical = min id

Portability note: signatures are built from md5 (identical across
engines) so every pipeline below is DuckDB-oracle-checkable; the
production fast path swaps md5 → xxhash64 (JVM, no hex strings).
MinHash hashes each token ONCE (md5 → 28-bit int) and derives its
N permutations as affine maps (a_i·x + b_i mod 2^31−1) — the classic
construction; pure integer arithmetic reproduces identically on any
engine and the token stream pays one digest instead of N.

Every word n-gram here comes from ``functions.text.grams_sql``, the
package's one n-gram builder, so a document shorter than n has no gram
in either engine. The shingle sets, the MinHash signatures, the band
keys and the twin salting are each one SQL-text ``selectExpr``: one
parsed expression instead of a Column tree built node by node over
py4j.

Scale notes: every pipeline is explode → equi-join on a compact key
(shingle / band / bucket) → agg. No cross joins anywhere; shuffle keys
are high-cardinality; band width tunes the candidate-pair volume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.functions.text import _URL_NORM_SQL, bind_sql, grams_sql
from ai_iceberg_demo_spark.operators.graph import connected_components
from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, persist_once
from ai_iceberg_demo_spark.vector.similarity import (
    _COS_SQL,
    _MD5_PLANES_SQL,
    _MD5_SIGS_SQL,
)

REGISTRY = Registry()

N_HASHES = 16  # minhash signature length
BAND_SIZE = 4  # rows per LSH band -> 4 bands
SIMHASH_BITS = 60  # 15 md5 nibbles; stays positive in a signed 64-bit


def tokens(text: Column) -> Column:
    return F.split(text, " ")


# A document's word-3-gram shingles: its token array is bound ONCE per
# row (bind_sql); inlining split(text) into the per-gram lambda would
# re-tokenize the document once per gram (measured 3.2x slower on the
# 8-gram corpus explode).
_SHINGLES_SQL = bind_sql("t", "split(text, ' ')", grams_sql("t", 3))


# ---------------------------------------------------------------------------
# Shingle-Jaccard builders: every near-dup query in this family is
# shingle_sets → (band_pairs →) all_overlaps | pair_overlaps → JACCARD
# ---------------------------------------------------------------------------

# Jaccard of an overlap row (n_inter, na, nb) — SQL text, one F.expr per use
JACCARD = "CAST(n_inter AS DOUBLE) / (na + nb - n_inter)"


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle, n_sh): each document's DISTINCT word-3-gram
    shingles, with the set's size n_sh on every row. Persisted: both
    sides of every overlap join read it.

    The set and its size are per-document quantities, so both are
    map-side array algebra — array_distinct replaces a corpus-sized
    (doc, shingle) distinct exchange, and n_sh riding each row (+8
    bytes) replaces a sizes aggregation and its two size-attach joins:
    the overlap builders recover each side's size as min(n_sh), a
    per-doc constant, inside their own aggregation. The shingle set
    is bound once per row (bind_sql) so size() can't re-tokenize the
    document. Contract: unique doc_ids (a repeated id keeps two sets
    instead of merging them); docs under 3 tokens have no rows."""
    per_doc = bind_sql(
        "a",
        f"array_distinct({_SHINGLES_SQL})",
        "transform(a, g -> named_struct('shingle', g, 'n_sh', CAST(size(a) AS BIGINT)))",
    )
    return docs.selectExpr("doc_id", f"inline({per_doc})").transform(persist_once)


def band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (a_id, b_id) LSH candidates, a_id < b_id: the doc pairs
    whose (band_idx, band_val) keys collide in at least one band of
    ``bands`` (minhash_bands output). Persists ``bands``: it meets
    itself in the collision join, and unpersisted the whole MinHash
    build (shingle explode + 16 min reductions) executes once per side."""
    bands = bands.transform(persist_once)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def all_overlaps(sh: DataFrame) -> DataFrame:
    """(a_id, b_id, n_inter, na, nb) for EVERY doc pair, a_id < b_id,
    sharing a shingle of ``sh`` (shingle_sets output): the exact
    all-pairs tier. Its Σdf² intermediate is quadratic in a shingle's
    document frequency, so it is the fixture-scale exactness anchor;
    at 100 TB the pairs come from band_pairs through pair_overlaps.

    shuffle_hash: both sides of the shingle self-join are corpus-sized,
    so a size misestimate must never pick a broadcast (a broadcast of
    this relation ran out of memory through d9's reuse at sf10); not
    merge, because the quadratic intermediate dominates before any join
    strategy matters, so the cheaper no-sort build is right."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count("*").alias("n_inter"),
            F.min("a.n_sh").alias("na"),
            F.min("b.n_sh").alias("nb"),
        )
    )


def pair_overlaps(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """(a_id, b_id, n_inter, na, nb) for the given (a_id, b_id) pairs
    that share at least one shingle of ``sh`` (shingle_sets output):
    the candidate verify, O(pairs × shingles/doc). A pair with no
    common shingle has no row. Candidate pairs grow with the corpus,
    so ``pairs`` is pinned shuffle_hash — a post-aggregate size
    misestimate must never broadcast it (the d13 rule). The ``sh``
    sides stay unpinned: AQE sees the persisted relation's
    materialized size exactly."""
    return (
        pairs.hint("shuffle_hash")
        .join(sh.alias("sa"), F.col("a_id") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("b_id") == F.col("sb.doc_id")) & (F.col("sb.shingle") == F.col("sa.shingle")),
        )
        .groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("n_inter"),
            F.min("sa.n_sh").alias("na"),
            F.min("sb.n_sh").alias("nb"),
        )
    )


# ---------------------------------------------------------------------------
# D1: exact dedup
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d1_exact_dedup",
    survey_ref="V7/training-data",
    doc="exact dedup by normalized-text fingerprint: hash-groupBy, one "
    "shuffle keyed on the hash (no skew: hashes are uniform). The corpus "
    "is deterministically doubled for doc_id%7==0 (whitespace-mangled "
    "copies) so normalization + dedup provably fires: n_duplicates > 0.",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, '  ' || UPPER(text) || '  ' AS text
            FROM documents WHERE doc_id % 7 = 0
        ), fp AS (
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
            FROM corpus
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
               CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_duplicates
        FROM fp
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    mangled = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mangled)
    fp = corpus.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count("*") - F.countDistinct("fp")).alias("n_duplicates"),
    )


@REGISTRY.register(
    name="d1b_drop_duplicates",
    survey_ref="V7",
    doc="canonical-survivor exact dedup: keep min doc_id per fingerprint "
    "(the reference's link-don't-copy rule, neo4j_memory.py:574-688).",
    oracle="""
        WITH fp AS (
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
            FROM documents
        )
        SELECT fp.doc_id, m.canonical_id
        FROM fp JOIN (SELECT fp AS f, CAST(MIN(doc_id) AS BIGINT) AS canonical_id
                      FROM fp GROUP BY fp) m
          ON fp.fp = m.f
    """,
)
def d1b_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical_id"))
    return fp.join(canon, "fp").select("doc_id", "canonical_id")


# ---------------------------------------------------------------------------
# D2: n-gram Jaccard similarity dedup (exact, on a sample)
# ---------------------------------------------------------------------------


# d2's shingle/size/intersection CTE chain — shared with d9's
# verified-cluster oracle
_D2_CTES = """sample_docs AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST(CASE WHEN LEN(toks) >= 3 THEN
                       LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   ELSE [] END) AS shingle
            FROM sample_docs
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )"""


@REGISTRY.register(
    name="d2_ngram_jaccard",
    survey_ref="training-data",
    doc="exact word-3-gram Jaccard ≥ 0.8 near-dup pairs over the full "
    "corpus: shingle explode → equi-join on shingle → intersection "
    "counts (the fixture plants true near-duplicates at ~0.99). At "
    "100 TB the same plan is seeded by MinHash candidates (d3) instead "
    "of all shingle collisions.",
    oracle=f"""
        WITH {_D2_CTES}
        SELECT i.a_id, i.b_id,
               CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
    """,
)
def d2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    # shingle construction is heavy per-row map work -> fan out the
    # serial small-file scan (2.9x at sf0.1; inert on real corpora)
    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    jac = F.expr(JACCARD)
    return (
        all_overlaps(shingle_sets(docs))
        .filter(jac >= 0.8)
        .select("a_id", "b_id", jac.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# D3: MinHash + LSH candidate generation
# ---------------------------------------------------------------------------

_MINHASH_COLS = [f"h{i}" for i in range(N_HASHES)]

# Affine MinHash permutations h_i(x) = (a_i*x + b_i) mod P over a
# 28-bit token hash x (first 7 md5 hex digits). ONE digest per token
# instead of N_HASHES seeded digests — at 100 TB the token stream is
# the dominant cost and this cuts its hashing 16×. a_i*x < 2^59 so the
# arithmetic never overflows a signed 64-bit on either engine.
_MERSENNE_P = 2147483647  # 2^31 - 1
import random as _random

_rng = _random.Random(42)
_MINHASH_A = [_rng.randrange(1, _MERSENNE_P) for _ in range(N_HASHES)]
_MINHASH_B = [_rng.randrange(0, _MERSENNE_P) for _ in range(N_HASHES)]


def _bands_sql(where: str, src: str = "documents", lead: str = "WITH ") -> str:
    """CTE chain toks→sigs→bands for the ``src`` docs matching
    ``where`` — the oracle twin of minhash_bands(). Pass ``lead=", "``
    to append after an earlier CTE.

    The MinHash unit is the word-3-gram SHINGLE — the same gram the
    exact-Jaccard verify tier (d2/d2b/cascade) computes, so the LSH
    candidate probability estimates the metric the verifier applies.
    Hashing unigram token SETS instead (the pre-r7 form) degenerates on
    any corpus with a shared vocabulary: unrelated docs share most
    words, band values collapse, and the "banded" join goes all-pairs
    (measured: 48% of all possible pairs became candidates at sf0.1;
    quadratic at 10x)."""
    return f"""
        {lead}toks AS (
            SELECT DISTINCT doc_id,
                   UNNEST(CASE WHEN LEN(w) >= 3 THEN
                       LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                   ELSE [] END) AS tok
            FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w
                  FROM {src} WHERE {where})
        ), tok_x AS (
            SELECT doc_id, ('0x' || SUBSTR(MD5(tok), 1, 7))::BIGINT AS x FROM toks
        ), sigs AS (
            SELECT doc_id,
                   {", ".join(f"MIN(({a} * x + {b}) % {_MERSENNE_P}) AS h{i}" for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B)))}
            FROM tok_x GROUP BY doc_id
        ), bands AS (
            SELECT doc_id, band_idx,
                   CASE band_idx
                       {" ".join(f"WHEN {b} THEN MD5(h{4*b}::VARCHAR || '_' || h{4*b+1}::VARCHAR || '_' || h{4*b+2}::VARCHAR || '_' || h{4*b+3}::VARCHAR)" for b in range(N_HASHES // BAND_SIZE))}
                   END AS band_val
            FROM sigs, LATERAL (SELECT UNNEST([0, 1, 2, 3]) AS band_idx) t
        )
"""


# Planted doc-level near-dup twins (f29/t20 salting convention; the
# fixture corpus has no natural near-dups, so a shingle-unit MinHash
# would otherwise be a 0-row check). Footer twins sit at word-3-gram
# Jaccard ~0.9 to their originals — deterministically colliding in ≥1
# of the 4 bands under the fixed hash family.
_TWIN_DOC_OFFSET = 2_000_000
_TWIN_FOOTER = " near duplicate footer variant"


def _guard_below_twin_offset(
    col: str = "doc_id",
    offset: int = _TWIN_DOC_OFFSET,
    offset_name: str = "_TWIN_DOC_OFFSET",
) -> str:
    """Spark-SQL per-row guard on id column ``col`` (no extra job): the
    twin-vs-corpus split is an id threshold on the ORACLE side, so a
    fixture whose genuine ids reach the twin offset would silently
    misclassify there. Fail loudly on the Spark side instead. Folded
    into the used expression so Catalyst cannot prune it."""
    msg = (
        f"{col} >= {offset_name} ({offset}): the planted-twin id range "
        f"overlaps genuine corpus ids — raise {offset_name} (and its "
        f"oracle twin) above max({col}); offending id: "
    )
    return (
        f"CASE WHEN {col} < {offset} THEN {col} "
        f"ELSE CAST(raise_error(concat('{msg}', CAST({col} AS STRING))) AS BIGINT) END"
    )


def salt_doc_twins(sample: DataFrame, every: int = 30) -> DataFrame:
    """Every ``every``-th doc gains a footer-variant twin
    (doc_id + 2e6); see _TWIN_DOC_OFFSET note."""
    # r13 (guide §6): ONE pass — each row explodes into itself (guarded)
    # plus, for every-th docs, its footer twin. The former two-branch
    # union read the sample twice; same row multiset, one scan.
    variants = (
        f"array(named_struct('doc_id', {_guard_below_twin_offset()}, 'text', text), "
        f"named_struct('doc_id', doc_id + {_TWIN_DOC_OFFSET}, "
        f"'text', concat(text, '{_TWIN_FOOTER}')))"
    )
    return sample.selectExpr(
        f"inline(filter({variants}, (v, i) -> i = 0 OR doc_id % {every} = 0))"
    )


def _salted_docs_sql(where: str, every: int = 30) -> str:
    """Oracle twin of salt_doc_twins over ``documents WHERE where``."""
    return f"""salted_docs AS (
            SELECT doc_id, text FROM documents WHERE {where}
            UNION ALL
            SELECT doc_id + {_TWIN_DOC_OFFSET}, text || '{_TWIN_FOOTER}'
            FROM documents WHERE ({where}) AND doc_id % {every} = 0
        )"""


# d3's candidate-pair SQL, shared with d6's component oracle
_D3_PAIRS_SQL = f"""WITH {_salted_docs_sql("doc_id % 10 = 0")}
        {_bands_sql("TRUE", src="salted_docs", lead=", ")}
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
"""


@REGISTRY.register(
    name="d3_minhash_lsh",
    survey_ref="training-data",
    doc="MinHash(16)+LSH(4 bands of 4) near-dup candidates over a 1-in-10 "
    "sample plus planted footer twins (salt_doc_twins — provable "
    "collisions at every SF). The MinHash unit is the word-3-gram "
    "shingle, the same gram the exact-Jaccard verify measures. Classic "
    "affine permutations (a*x+b mod 2^31-1) over one md5 shingle hash "
    "— a single digest per shingle, exactly reproduced by the oracle; "
    "production swaps md5→xxhash64. Candidates feed the exact-Jaccard "
    "verify (d2 plan).",
    bench=True,
    oracle=_D3_PAIRS_SQL,
)
def d3_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return band_pairs(
        minhash_bands(
            salt_doc_twins(
                load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
            )
        )
    )


def minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h15) MinHash signature table — the shared substrate
    of the band index (minhash_bands) and the calibration audit (d14).
    The hash unit is the word-3-gram, the same gram the exact-Jaccard
    verify tier measures (see _bands_sql for why unigram sets
    degenerate).

    r13 (guide §2.4): a signature is a per-DOCUMENT reduction — min
    over that document's distinct shingles — so the whole build is
    map-side array algebra (array_distinct → hash transform → 16
    array_mins), ZERO exchanges. The former spelling exploded every
    (doc, shingle) row through a corpus-sized distinct exchange plus a
    doc-keyed min-agg exchange; at 100 TB those moved the entire
    shingle relation twice just to come back to one row per doc. Same
    arithmetic on the same distinct shingle set → bit-identical h0..h15
    (integer min is order-free). Contract: callers feed unique doc_ids
    (the old groupBy would have merged duplicates; every call site
    builds salted/guarded unions or post-aggregate survivors, which
    are unique by construction). Docs with no shingle (< 3 tokens) are
    dropped, exactly as the explode dropped them.
    """
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    # full-core fan-out: the build is exchange-free now, so no later
    # shuffle will re-spread the md5 work the old agg exchange did
    docs = fan_out_small_input(docs, factor=64)
    xs = (
        f"transform(array_distinct({_SHINGLES_SQL}), "
        "g -> CAST(conv(substring(md5(encode(g, 'UTF-8')), 1, 7), 16, 10) AS BIGINT))"
    )
    mins = ", ".join(
        f"'h{i}', array_min(transform(v, x -> ({a} * x + {b}) % {_MERSENNE_P}))"
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    )
    # the hash array is bound ONCE per row: referencing xs inside each
    # of the 16 min expressions would inline the md5 transform 16×
    sig = bind_sql("v", xs, f"named_struct({mins})")
    return docs.selectExpr("doc_id", f"inline(array({sig}))").filter("h0 IS NOT NULL")


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_val) LSH band keys — the signature
    "index" side of every MinHash pipeline (d3 full self-dedup, d7
    incremental batch-vs-corpus). In production the corpus' bands are
    PERSISTED (bucketed by band_val) so each new crawl batch only
    hashes itself and probes the index."""
    bands = ", ".join(
        f"named_struct('band_idx', {b}, 'band_val', md5(encode(concat_ws('_', "
        + ", ".join(f"CAST(h{BAND_SIZE * b + j} AS STRING)" for j in range(BAND_SIZE))
        + "), 'UTF-8')))"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return minhash_sigs(docs).selectExpr("doc_id", f"inline(array({bands}))")


@REGISTRY.register(
    name="d7_incremental_dedup",
    survey_ref="training-data (incremental)",
    doc="incremental crawl dedup: the NEW batch (doc_id%10=5) probes the "
    "indexed corpus' LSH bands (doc_id%10=0) — candidates are cross-side "
    "only, so each ingest pays O(new) hashing + one equi-join against "
    "the persisted band index, never re-pairing the corpus with itself "
    "(old×old is the quadratic term a daily 100 TB ingest cannot afford).",
    oracle=f"""WITH {_salted_docs_sql("doc_id % 10 IN (0, 5)")}
        {_bands_sql("TRUE", src="salted_docs", lead=", ")}
        SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
        FROM bands n JOIN bands c
          ON n.band_idx = c.band_idx AND n.band_val = c.band_val
        WHERE (n.doc_id % 10 = 5 OR n.doc_id >= {_TWIN_DOC_OFFSET})
          AND c.doc_id % 10 = 0 AND c.doc_id < {_TWIN_DOC_OFFSET}
    """,
)
def d7_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # corpus side guarded too: the oracle's `c.doc_id < offset` filter
    # would silently DROP a genuine corpus id at/above the offset while
    # Spark kept it (r8 ADVICE — the new-batch guard alone misses this).
    corpus = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.expr(_guard_below_twin_offset()).alias("doc_id"), "text"
    )
    # the arriving batch carries footer twins of indexed corpus docs
    # (doc_id%30==0 → always a corpus doc), so the cross-side probe
    # provably fires at every SF
    new = docs.filter(F.col("doc_id") % 10 == 5).select(
        F.expr(_guard_below_twin_offset()).alias("doc_id"), "text"
    ).unionByName(
        corpus.filter(F.col("doc_id") % 30 == 0).select(
            (F.col("doc_id") + _TWIN_DOC_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(_TWIN_FOOTER)).alias("text"),
        )
    )
    corpus_bands = minhash_bands(corpus)
    new_bands = minhash_bands(new)
    return (
        new_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_val") == F.col("c.band_val")),
        )
        .select(F.col("n.doc_id").alias("new_id"), F.col("c.doc_id").alias("corpus_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# D2b: LSH-seeded exact-Jaccard verify — d2's at-scale spelling
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d2b_lsh_seeded_jaccard",
    survey_ref="training-data (candidates→verify)",
    doc="the production near-dup pipeline d2's doc promises: MinHash/LSH "
    "band collisions (d3's index, same 1-in-10 sample) propose "
    "candidate pairs, then exact word-3-gram Jaccard ≥ 0.8 verifies "
    "ONLY those pairs. Cost is O(candidates × shingles/doc) instead "
    "of d2's all-shingle self-join — the shape that survives 100 TB, "
    "with d2 as the exactness oracle at fixture scale (any pair here "
    "scores identically in d2; planted dupes collide in ≥1 band and "
    "survive). Since r7 the MinHash unit is the word-3-gram shingle "
    "(the verify metric's own gram), which retired the unigram-era "
    "band degeneracy on shared-vocabulary corpora; "
    "real crawl corpora collide only on near-dups. The fixture's own "
    "planted dupes never pair two sample ids, so every 5th sampled "
    "doc gets a deterministic near-twin (4 appended tokens, jaccard "
    "≈ (n_sh-2)/(n_sh+2)) — the f29/d8 salting convention — proving "
    "both the LSH recall and the verify gate end-to-end.",
    oracle=f"""
        WITH d2b_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 1000000, text || ' near duplicate footer variant'
            FROM documents WHERE doc_id % 50 = 0
        ){_bands_sql("TRUE", src="d2b_docs", lead=", ")}
        , cands AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), sample_docs AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM d2b_docs
        ), sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST(CASE WHEN LEN(toks) >= 3 THEN
                       LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 2),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   ELSE [] END) AS shingle
            FROM sample_docs
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
            FROM cands c
            JOIN sh a ON a.doc_id = c.a_id
            JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
            GROUP BY c.a_id, c.b_id
        )
        SELECT i.a_id, i.b_id,
               CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
    """,
)
def d2b_lsh_seeded_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    base = load_table(spark, "documents", sf_dir)
    sample = base.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    twins = base.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near duplicate footer variant")).alias("text"),
    )
    docs = fan_out_small_input(sample.unionByName(twins))
    jac = F.expr(JACCARD)
    return (
        pair_overlaps(band_pairs(minhash_bands(docs)), shingle_sets(docs))
        .filter(jac >= 0.8)
        .select("a_id", "b_id", jac.alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# D4: SimHash near-dup
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d4_simhash",
    survey_ref="training-data",
    doc=f"SimHash({SIMHASH_BITS}-bit from md5 nibbles) signatures + banded "
    "hamming ≤ 3 near-dup pairs over a 1-in-10 sample. Band join bounds "
    "candidates; bit_count(xor) computes hamming JVM-side.",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents WHERE doc_id % 10 = 0
        ), tok_h AS (
            SELECT doc_id, MD5(tok) AS h FROM toks
        ), bits AS (
            SELECT doc_id, bp.bitpos,
                   ((INSTR('0123456789abcdef', SUBSTR(h, (bp.bitpos // 4) + 1, 1)) - 1)
                     >> (bp.bitpos % 4)) & 1 AS bit
            FROM tok_h, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {SIMHASH_BITS - 1})) AS bitpos) bp
        ), sums AS (
            SELECT doc_id, bitpos, SUM(2 * bit - 1) AS s
            FROM bits GROUP BY doc_id, bitpos
        ), sh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bitpos) ELSE 0 END) AS BIGINT) AS simhash
            FROM sums GROUP BY doc_id
        ), bands AS (
            SELECT doc_id, simhash, b, (simhash >> (15 * b)) & 32767 AS bv
            FROM sh, LATERAL (SELECT UNNEST([0, 1, 2, 3]) AS b) t
        ), cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                   a.simhash AS ha, b.simhash AS hb
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT a_id, b_id, CAST(BIT_COUNT(XOR(ha, hb)) AS INT) AS hamming
        FROM cand WHERE BIT_COUNT(XOR(ha, hb)) <= 3
    """,
)
def d4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).distinct()
    tok_h = toks.select("doc_id", F.md5("tok").alias("h"))
    # F.shiftright/shiftleft only take int literals in the Python API, so
    # the variable-shift bit extraction uses SQL expressions (the Catalyst
    # ShiftLeft/ShiftRight expressions accept column operands).
    bits = tok_h.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bitpos"),
        "h",
    ).select(
        "doc_id",
        "bitpos",
        F.expr(
            "(shiftright(CAST(conv(substring(h, CAST(bitpos / 4 AS INT) + 1, 1), 16, 10) AS INT),"
            " CAST(bitpos % 4 AS INT)) & 1) AS bit"
        ),
    )
    sums = bits.groupBy("doc_id", "bitpos").agg(F.sum(2 * F.col("bit") - 1).alias("s"))
    sh = sums.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bitpos AS INT))")
            ).otherwise(F.lit(0).cast("long"))
        )
        .cast("bigint")
        .alias("simhash")
    )
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn("bv", F.expr("shiftright(simhash, CAST(15 * b AS INT)) & 32767"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("ha"),
            F.col("b.simhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(hamming <= 3).select(
        "a_id", "b_id", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# D5: embedding-cosine near-dup
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d5_embedding_dedup",
    survey_ref="V7,J6",
    doc="embedding near-dup: cosine ≥ 0.98 within blocking buckets "
    "(fixture label; production: LSH bucket), canonical = min neighbor id "
    "— the reference's link-existing-result rule (neo4j_memory.py:574-688).",
    oracle=f"""
        WITH pairs AS (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id
            FROM embeddings a JOIN embeddings b ON a.label = b.label
            WHERE ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6) >= 0.98
        )
        SELECT a_id AS vec_id, CAST(MIN(b_id) AS BIGINT) AS canonical_id
        FROM pairs GROUP BY a_id
    """,
)
def d5_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.vector.similarity import cos_normed, with_norm

    # norms per ROW (with_norm), dot per pair — bit-equal to cosine()
    # but 3.5× faster on the blocked all-pairs join at sf0.1; persisted
    # because both halves of the self-join read it
    side = with_norm(load_table(spark, "embeddings", sf_dir), "embedding", "v", "n").transform(persist_once)
    a = side.select(F.col("vec_id").alias("a_id"), F.col("label").alias("al"), F.col("v").alias("av"), F.col("n").alias("na"))
    b = side.select(F.col("vec_id").alias("b_id"), F.col("label").alias("bl"), F.col("v").alias("bv"), F.col("n").alias("nb"))
    pairs = (
        a.join(b, F.col("al") == F.col("bl"))
        .filter(F.round(cos_normed("av", "na", "bv", "nb"), 6) >= 0.98)
        .select("a_id", "b_id")
    )
    return pairs.groupBy(F.col("a_id").alias("vec_id")).agg(
        F.min("b_id").alias("canonical_id")
    )


# ---------------------------------------------------------------------------
# D6: candidate pairs → duplicate clusters (connected components)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d6_dedup_components",
    survey_ref="training-data",
    doc="near-dup CLUSTERS: d3's LSH candidate pairs closed into "
    "connected components by Hash-to-Min (operators.graph."
    "connected_components: O(log diameter) rounds, one shuffle each; "
    "component_id = min doc_id in the cluster; singletons keep their "
    "own id). Candidates are unverified, so one component's min node "
    "can hold a large cluster array (SCALE.md). This is the step that "
    "turns pairwise candidates into the keep-one-per-cluster decision "
    "a corpus dedup actually ships. "
    "Oracle: DuckDB recursive CTE over the identical pair list.",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_D3_PAIRS_SQL}),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id)
        SELECT d.doc_id, CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS component_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        WHERE d.doc_id % 10 = 0
    """,
)
def d6_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
    comps = connected_components(band_pairs(minhash_bands(salt_doc_twins(docs))))
    return docs.join(comps, docs.doc_id == comps.id, "left").select(
        "doc_id", F.coalesce("lbl", "doc_id").cast("bigint").alias("component_id")
    )


# ---------------------------------------------------------------------------
# D9: quality-aware canonical selection per duplicate cluster
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d9_quality_canonical",
    survey_ref="training-data (dedup canonicalization); V7,D6,T2",
    doc="quality-aware canonical selection: d2's VERIFIED near-dup pairs "
    "(exact Jaccard ≥ 0.8, not d3's unverified candidates — candidates "
    "chain through shared boilerplate into one giant component) are "
    "closed into clusters (d6's Hash-to-Min components) and each cluster "
    "keeps its HIGHEST-QUALITY member (t2's C4-style scoring; ties to "
    "the lowest doc_id) instead of the arbitrary min-id — the decision "
    "a production corpus dedup actually ships: drop the worse copies, "
    "keep the best. Cluster membership is tiny relative to the corpus, "
    "so it broadcasts onto the map-side quality scan; the final argmax "
    "is max_by(struct) — partial-aggregable, one small shuffle.",
    oracle=f"""
        WITH RECURSIVE {_D2_CTES},
        pairs AS (
            SELECT i.a_id, i.b_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
        ),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
        scored AS (
            SELECT doc_id,
                   LENGTH(text) AS n,
                   CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                        t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                     / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1) AS sw_ratio
            FROM documents
        ),
        q AS (
            SELECT doc_id,
                   0.6 * LEAST(n / 400.0, 1.0)
                       + 0.4 * (CASE WHEN sw_ratio >= 0.05 AND sw_ratio <= 0.6
                                     THEN 1.0 ELSE 0.5 END) AS quality
            FROM scored
        ),
        ranked AS (
            SELECT c.component_id, c.id AS doc_id, q.quality,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                                      ORDER BY q.quality DESC, c.id ASC) AS rn
            FROM comp c JOIN q ON q.doc_id = c.id
        )
        SELECT CAST(component_id AS BIGINT) AS component_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_id,
               ROUND(MAX(quality), 6) AS best_quality
        FROM ranked GROUP BY component_id
    """,
)
def d9_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import quality_score
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = load_table(spark, "documents", sf_dir)
    # d2's verified pairs
    pairs = all_overlaps(shingle_sets(fan_out_small_input(docs))).filter(
        F.expr(JACCARD) >= 0.8
    )
    comps = connected_components(pairs)
    q = docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
    members = comps.join(q, comps.id == q.doc_id).select(
        F.col("lbl").cast("bigint").alias("component_id"), "doc_id", "quality"
    )
    # argmax by (quality, -doc_id): highest quality wins, ties to the
    # LOWEST doc_id — t2's quality doubles are bit-identical to the
    # oracle's, so the comparison is engine-portable.
    return members.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.max_by(
            "doc_id",
            F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("tie")),
        )
        .cast("bigint")
        .alias("kept_id"),
        F.round(F.max("quality"), 6).alias("best_quality"),
    )


# ---------------------------------------------------------------------------
# D9b: canonical-per-cluster AT SCALE (band tier → verify → argmax)
# ---------------------------------------------------------------------------

# the verify tail shared verbatim with d9's oracle: components by
# min-label closure over verified pairs, then quality argmax per
# component (highest quality wins, ties to the lowest doc_id)
_CANONICAL_TAIL_SQL = """edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
        scored AS (
            SELECT doc_id,
                   LENGTH(text) AS n,
                   CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                        t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                     / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1) AS sw_ratio
            FROM salted_docs
        ),
        q AS (
            SELECT doc_id,
                   0.6 * LEAST(n / 400.0, 1.0)
                       + 0.4 * (CASE WHEN sw_ratio >= 0.05 AND sw_ratio <= 0.6
                                     THEN 1.0 ELSE 0.5 END) AS quality
            FROM scored
        ),
        ranked AS (
            SELECT c.component_id, c.id AS doc_id, q.quality,
                   ROW_NUMBER() OVER (PARTITION BY c.component_id
                                      ORDER BY q.quality DESC, c.id ASC) AS rn
            FROM comp c JOIN q ON q.doc_id = c.id
        )
        SELECT CAST(component_id AS BIGINT) AS component_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_id,
               ROUND(MAX(quality), 6) AS best_quality
        FROM ranked GROUP BY component_id"""


@REGISTRY.register(
    name="d9b_canonical_at_scale",
    survey_ref="training-data (canonical-pick at 100 TB: d3 ∘ d2b ∘ d6 ∘ d9)",
    bench=True,  # r9 verdict #4: the heaviest registered plan and the
    # flagship 100 TB dedup path belongs under the floor guard
    doc="the 100 TB spelling of d9's quality-aware canonical selection, "
    "registered as ONE verified plan instead of SCALE.md prose: MinHash "
    "band collisions propose candidate pairs (d3's index over the "
    "salted 1-in-10 sample — planted footer twins prove recall at "
    "every SF), exact word-3-gram Jaccard ≥ 0.8 verifies ONLY those "
    "candidates (d2b's shape — O(candidates·shingles/doc), never d2's "
    "Σdf² all-shingle self-join, the tier that is inherently quadratic "
    "in fixture copies and DNF'd at sf10), verified pairs close into "
    "clusters (d6's Hash-to-Min components), and each cluster keeps its "
    "highest-quality member (d9's t2-scored max_by(struct) argmax, "
    "ties to the lowest doc_id). Every stage is the banded/bucketed "
    "form: candidate generation is an equi-join on band keys, verify "
    "prices only collisions, components shuffle edge-count rows, the "
    "argmax is partial-aggregable. The oracle reuses _salted_docs_sql "
    "+ _bands_sql + d2b's verify CTEs + d9's component/argmax tail so "
    "the composition can never drift from its parts.",
    oracle=f"""
        WITH RECURSIVE {_salted_docs_sql("doc_id % 10 = 0")}
        {_bands_sql("TRUE", src="salted_docs", lead=", ")}
        , cands AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), sdocs AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM salted_docs
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
        ), pairs AS (
            SELECT i.a_id, i.b_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
                  >= 0.8
        ), {_CANONICAL_TAIL_SQL}
    """,
)
def d9b_canonical_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates (d3) → verify (d2b) → components (d6) → argmax (d9).

    Scale shape: the only corpus×corpus contact is the band-key
    equi-join (collision-priced); the verify join touches candidate
    rows only; cluster membership is pair-bounded; the argmax is one
    map-side-partial agg. This is the plan SCALE.md:437-447 argued —
    now hash-oracled end-to-end (vs d9, whose d2 seed is the
    fixture-scale exactness anchor).
    """
    from ai_iceberg_demo_spark.functions.text import quality_score
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(
        salt_doc_twins(
            load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
        )
    ).transform(persist_once)  # feeds bands, shingles, AND the quality scan
    pairs = pair_overlaps(band_pairs(minhash_bands(docs)), shingle_sets(docs)).filter(
        F.expr(JACCARD) >= 0.8
    )
    comps = connected_components(pairs)
    # q is per-doc (corpus-scaled) — shuffle_hash so a size
    # misestimate can never broadcast it (the d13 rule)
    q = docs.select("doc_id", quality_score(F.col("text")).alias("quality"))
    members = comps.join(q.hint("shuffle_hash"), comps.id == q.doc_id).select(
        F.col("lbl").cast("bigint").alias("component_id"), "doc_id", "quality"
    )
    return members.groupBy("component_id").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.max_by(
            "doc_id",
            F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("tie")),
        )
        .cast("bigint")
        .alias("kept_id"),
        F.round(F.max("quality"), 6).alias("best_quality"),
    )


# ---------------------------------------------------------------------------
# D10: exact duplicated-span removal (ExactSubstr-style dedup)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # span width in words for cross-doc exact duplication


@REGISTRY.register(
    name="d10_exact_substring_removal",
    survey_ref="training-data (exact substring dedup)",
    doc=f"ExactSubstr-style span dedup: REWRITE each document by "
    f"deleting every token covered by a word {_SPAN_N}-gram that also "
    "appears in >= 2 distinct documents — document-level dedup "
    "(d1/d2) keeps one copy of a duplicated doc, this removes "
    "duplicated PASSAGES (boilerplate, quoted chunks) inside "
    "otherwise-unique docs. Plan: positional gram explode → "
    "cross-doc-duplicated grams (one gram-keyed shuffle with "
    "count(distinct doc) partials) → covered positions (bounded "
    f"{_SPAN_N}× explode of dup starts only) → anti-join on token "
    "position → order-preserving reassembly. At 100 TB the gram "
    "table is the cost (same table d2/t17 build — compute once, "
    "serve all three); the giant-suffix-array spelling of the "
    "literature is the single-machine form, this is its shuffle "
    "form. Output per doc: original/removed token counts + the "
    "cleaned text (empty string when fully covered).",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), grams AS (
            SELECT doc_id, s, ARRAY_TO_STRING(t[s : s + {_SPAN_N - 1}], ' ') AS g
            FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(t) - {_SPAN_N - 1}, 0))) AS u(s)
        ), dup AS (
            SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
        ), covered AS (
            SELECT DISTINCT gr.doc_id, c.p
            FROM grams gr JOIN dup USING (g),
                 UNNEST(GENERATE_SERIES(gr.s, gr.s + {_SPAN_N - 1})) AS c(p)
        ), toked AS (
            SELECT doc_id, p, t[p] AS tok
            FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t))) AS u(p)
        ), kept AS (
            SELECT td.doc_id, td.p, td.tok
            FROM toked td LEFT JOIN covered c
              ON td.doc_id = c.doc_id AND td.p = c.p
            WHERE c.p IS NULL
        ), rebuilt AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   ARRAY_TO_STRING(LIST(tok ORDER BY p), ' ') AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT tk.doc_id,
               CAST(LEN(tk.t) AS BIGINT) AS n_tokens,
               CAST(LEN(tk.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(r.clean_text, '') AS clean_text
        FROM toks tk LEFT JOIN rebuilt r ON tk.doc_id = r.doc_id
    """,
)
def d10_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    # positional grams: ONE bound token array (t is a projected column,
    # the r3 lambda-binding lesson), 1-based starts to match the oracle
    grams = toks.selectExpr(
        "doc_id", f"posexplode({grams_sql('t', _SPAN_N)}) AS (s0, g)"
    ).selectExpr("doc_id", "s0 + 1 AS s", "g")
    dup = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    covered = (
        grams.join(dup, "g")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(_SPAN_N - 1))).alias("p"),
        )
        .distinct()
    )
    toked = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    kept = toked.join(covered.hint("merge"), ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda x: x["tok"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(rebuilt.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).cast("bigint").alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# D11: cross-source overlap matrix
# ---------------------------------------------------------------------------

_OVL_N = 8  # word n-gram width (same bar as t17 decontamination / d10)

_OVL_GRAMS_SQL = f"""
        grams AS (
            SELECT DISTINCT doc_id, source, UNNEST(
                CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {_OVL_N} THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {_OVL_N - 1}),
                        i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + {_OVL_N - 1}], ' '))
                ELSE [] END) AS gram
            FROM documents
        ), gsrc AS (
            SELECT DISTINCT source, gram FROM grams
        )"""


@REGISTRY.register(
    name="d11_source_overlap",
    survey_ref="training-data (curation audit); d2/t17 family",
    doc="cross-source duplication matrix: for every source pair, how "
    "many distinct 8-grams they share and how many docs on each side "
    "carry shared material — the audit that tells a curator WHICH "
    "feeds copy from each other before any dedup decision. Built on "
    "the same shingle table d2/t17/d10 use (compute once, serve all). "
    "The per-gram join fan-out is bounded by the source count (the "
    "gram→source table is distinct), so no gram — however boilerplate "
    "— explodes the join; the corpus explodes once to grams and "
    "shuffles on the uniform gram key.",
    oracle="WITH "
    + _OVL_GRAMS_SQL
    + """
        , shared AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(COUNT(DISTINCT a.gram) AS BIGINT) AS n_shared_grams
            FROM gsrc a JOIN gsrc b ON a.gram = b.gram AND a.source < b.source
            GROUP BY a.source, b.source
        ), dochits AS (
            SELECT g.source, o.source AS other,
                   CAST(COUNT(DISTINCT g.doc_id) AS BIGINT) AS n_docs
            FROM grams g JOIN gsrc o ON g.gram = o.gram AND g.source <> o.source
            GROUP BY g.source, o.source
        )
        SELECT s.source_a, s.source_b, s.n_shared_grams,
               da.n_docs AS n_docs_a, db.n_docs AS n_docs_b
        FROM shared s
        JOIN dochits da ON da.source = s.source_a AND da.other = s.source_b
        JOIN dochits db ON db.source = s.source_b AND db.other = s.source_a
    """,
)
def d11_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input, load_table

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    grams = (
        docs.selectExpr("doc_id", "source", "split(text, ' ') AS t")
        .selectExpr("doc_id", "source", f"explode({grams_sql('t', _OVL_N)}) AS gram")
        .distinct()
        # three consumers below (gsrc twice via a/b, dochits) — pay the
        # explode+distinct shuffle once
        .transform(persist_once)
    )
    gsrc = grams.select("source", "gram").distinct()
    shared = (
        gsrc.alias("a")
        .join(
            gsrc.alias("b"),
            (F.col("a.gram") == F.col("b.gram")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.countDistinct("a.gram").alias("n_shared_grams"))
    )
    dochits = (
        grams.alias("g")
        .join(
            gsrc.alias("o"),
            (F.col("g.gram") == F.col("o.gram")) & (F.col("g.source") != F.col("o.source")),
        )
        .groupBy(F.col("g.source").alias("source"), F.col("o.source").alias("other"))
        .agg(F.countDistinct("g.doc_id").alias("n_docs"))
    )
    da = dochits.select(
        F.col("source").alias("source_a"), F.col("other").alias("source_b"),
        F.col("n_docs").alias("n_docs_a"),
    )
    db = dochits.select(
        F.col("other").alias("source_a"), F.col("source").alias("source_b"),
        F.col("n_docs").alias("n_docs_b"),
    )
    return shared.join(da, ["source_a", "source_b"]).join(db, ["source_a", "source_b"])


# ---------------------------------------------------------------------------
# D12: containment similarity (asymmetric near-dup)
# ---------------------------------------------------------------------------

_CONTAIN_TAU = 0.8


@REGISTRY.register(
    name="d12_containment",
    survey_ref="training-data (Broder containment); d2 family",
    doc="asymmetric containment pairs: containment(A→B) = |shingles(A)"
    "∩shingles(B)| / |shingles(A)| ≥ 0.8 — flags a document mostly "
    "CONTAINED in another (quoted passages, doc-in-doc duplication) "
    "that symmetric Jaccard misses whenever the container is much "
    "larger. Output is directional (contained_id → container_id, both "
    "directions can fire). The corpus is salted with planted "
    "containers (doc_id%13==0's text concatenated with its neighbor, "
    "id+2e6) so containment-without-Jaccard provably exists — the "
    "fixture's own near-dups are all symmetric. Same shingle table "
    "and equi-join discipline as d2; pairs already within "
    "Jaccard ≥ 0.8 are excluded so the operator reports exactly what "
    "d2 CANNOT see.",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT a.doc_id + 2000000 AS doc_id, a.text || ' ' || b.text AS text
            FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
            WHERE a.doc_id % 13 = 0
        ), {_D2_CTES.replace("FROM documents", "FROM corpus")}
        SELECT i.a_id AS contained_id, i.b_id AS container_id,
               ROUND(CAST(i.n_inter AS DOUBLE) / sa.n_sh, 6) AS containment
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / sa.n_sh >= {_CONTAIN_TAU}
          AND CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) < 0.8
        UNION ALL
        SELECT i.b_id, i.a_id,
               ROUND(CAST(i.n_inter AS DOUBLE) / sb.n_sh, 6) AS containment
        FROM inter i
        JOIN sizes sa ON i.a_id = sa.doc_id
        JOIN sizes sb ON i.b_id = sb.doc_id
        WHERE CAST(i.n_inter AS DOUBLE) / sb.n_sh >= {_CONTAIN_TAU}
          AND CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) < 0.8
    """,
)
def d12_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    base = load_table(spark, "documents", sf_dir)
    containers = (
        base.filter(F.col("doc_id") % 13 == 0)
        .alias("a")
        .join(base.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            (F.col("a.doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.col("a.text"), F.lit(" "), F.col("b.text")).alias("text"),
        )
    )
    docs = fan_out_small_input(
        base.select("doc_id", "text").unionByName(containers)
    )
    joined = all_overlaps(shingle_sets(docs))
    jac = F.expr(JACCARD)
    c_ab = F.col("n_inter").cast("double") / F.col("na")
    c_ba = F.col("n_inter").cast("double") / F.col("nb")
    fwd = joined.filter((c_ab >= _CONTAIN_TAU) & (jac < 0.8)).select(
        F.col("a_id").alias("contained_id"),
        F.col("b_id").alias("container_id"),
        F.round(c_ab, 6).alias("containment"),
    )
    rev = joined.filter((c_ba >= _CONTAIN_TAU) & (jac < 0.8)).select(
        F.col("b_id").alias("contained_id"),
        F.col("a_id").alias("container_id"),
        F.round(c_ba, 6).alias("containment"),
    )
    return fwd.unionByName(rev)


# ---------------------------------------------------------------------------
# D13: intra-document repeated-span elision
# ---------------------------------------------------------------------------

_INTRA_N = 5  # span width in words for within-doc repetition


@REGISTRY.register(
    name="d13_intradoc_span_dedup",
    survey_ref="training-data (within-doc span dedup; d10's intra-doc twin)",
    bench=True,
    doc=f"within-document repetition elision: delete every token "
    f"covered by a word {_INTRA_N}-gram occurrence AFTER that gram's "
    "first occurrence in the SAME document — the cleanup for "
    "model-looped generations, scraper stutter, and template echo "
    "that t18's repetition SCORE only flags. d10 removes passages "
    "shared ACROSS docs; this removes passages a doc repeats "
    "internally. Entirely doc-local: the per-(doc,gram) first-"
    "occurrence agg, the covered-position set, and the reassembly all "
    "key on doc_id — no corpus-wide gram table, so shuffles stay "
    "uniform at any corpus size and the operator composes with d10 "
    "(cross-doc pass) in either order. The fixture corpus has no "
    "natural within-doc repeated 5-gram (measured: 0 docs), so every "
    "6th doc is salted with a doubled stutter tail — the t20/f29 "
    "planted-signal pattern — making the elision provably fire at "
    "every SF (pinned by test).",
    oracle=f"""
        WITH salted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 6 = 0
                        THEN text || ' loop echo loop echo stutter loop echo loop echo stutter'
                        ELSE text END AS text
            FROM documents
        ), toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM salted
        ), grams AS (
            SELECT doc_id, s, ARRAY_TO_STRING(t[s : s + {_INTRA_N - 1}], ' ') AS g
            FROM toks, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(t) - {_INTRA_N - 1}, 0))) AS u(s)
        ), firsts AS (
            SELECT doc_id, g, MIN(s) AS first_s FROM grams GROUP BY doc_id, g
        ), covered AS (
            SELECT DISTINCT gr.doc_id, c.p
            FROM grams gr JOIN firsts f
              ON gr.doc_id = f.doc_id AND gr.g = f.g AND gr.s > f.first_s,
                 UNNEST(GENERATE_SERIES(gr.s, gr.s + {_INTRA_N - 1})) AS c(p)
        ), toked AS (
            SELECT doc_id, p, t[p] AS tok
            FROM toks, UNNEST(GENERATE_SERIES(1, LEN(t))) AS u(p)
        ), kept AS (
            SELECT td.doc_id, td.p, td.tok
            FROM toked td LEFT JOIN covered c
              ON td.doc_id = c.doc_id AND td.p = c.p
            WHERE c.p IS NULL
        ), rebuilt AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_kept,
                   ARRAY_TO_STRING(LIST(tok ORDER BY p), ' ') AS clean_text
            FROM kept GROUP BY doc_id
        )
        SELECT tk.doc_id,
               CAST(LEN(tk.t) AS BIGINT) AS n_tokens,
               CAST(LEN(tk.t) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
               COALESCE(r.clean_text, '') AS clean_text
        FROM toks tk LEFT JOIN rebuilt r ON tk.doc_id = r.doc_id
    """,
)
def d13_intradoc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    salted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                "text",
                F.lit(" loop echo loop echo stutter loop echo loop echo stutter"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = salted.select("doc_id", tokens(F.col("text")).alias("t"))
    grams = toks.selectExpr(
        "doc_id", f"posexplode({grams_sql('t', _INTRA_N)}) AS (s0, g)"
    ).selectExpr("doc_id", "s0 + 1 AS s", "g")
    firsts = grams.groupBy("doc_id", "g").agg(F.min("s").alias("first_s"))
    # every join below is doc_id-keyed and BOTH sides are corpus-sized:
    # pin sort-merge so neither the optimizer's static size estimate
    # can pick a broadcast (the sf10 rehearsal OOM'd the driver
    # broadcasting `firsts` at 100x) nor a hash build can exceed task
    # memory (shuffle_hash OOM'd the per-partition map at the same SF);
    # SMJ spills gracefully — the only join strategy that survives
    # corpus×corpus at any scale
    covered = (
        grams.join(firsts.hint("merge"), ["doc_id", "g"])
        .filter(F.col("s") > F.col("first_s"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("s"), F.col("s") + F.lit(_INTRA_N - 1))).alias("p"),
        )
        .distinct()
    )
    toked = toks.select("doc_id", F.posexplode("t").alias("p0", "tok")).select(
        "doc_id", (F.col("p0") + 1).alias("p"), "tok"
    )
    kept = toked.join(covered.hint("merge"), ["doc_id", "p"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))), lambda x: x["tok"]
            ),
            " ",
        ).alias("clean_text"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(rebuilt.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# D14: MinHash calibration audit — estimated vs exact Jaccard
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d14_minhash_calibration",
    survey_ref="training-data (dedup tuning audit); d3's error meter",
    doc="calibration audit for the d3 MinHash index: for every LSH "
    "candidate pair, the signature-estimated Jaccard (agreeing hashes "
    "/ 16) next to the EXACT word-3-gram Jaccard (the same shingles "
    "the signatures hash) and the absolute error "
    "— the table that answers 'can I trust 16 hashes / 4 bands "
    "at my dedup threshold, or do I pay for more?'. The audit costs "
    "O(candidates): signatures join the (already tiny) banded pair "
    "set, and the exact intersection is computed only for those "
    "pairs via the token equi-join — the corpus never self-joins. "
    "At 100 TB this runs on a sampled candidate slice on the same "
    "persisted band index d3/d7 probe; pure integer/md5 arithmetic "
    "keeps it hash-oracled.",
    oracle=f"""WITH {_salted_docs_sql("doc_id % 10 = 0")}
        {_bands_sql("TRUE", src="salted_docs", lead=", ")}
        , cand AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), est AS (
            SELECT c.a_id, c.b_id,
                   ({" + ".join(f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(N_HASHES))})
                   / {N_HASHES}.0 AS est_j
            FROM cand c
            JOIN sigs sa ON sa.doc_id = c.a_id
            JOIN sigs sb ON sb.doc_id = c.b_id
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
        ), inter AS (
            SELECT c.a_id, c.b_id, COUNT(*) AS n_i
            FROM cand c
            JOIN toks ta ON ta.doc_id = c.a_id
            JOIN toks tb ON tb.doc_id = c.b_id AND tb.tok = ta.tok
            GROUP BY c.a_id, c.b_id
        )
        SELECT e.a_id, e.b_id,
               ROUND(e.est_j, 6) AS est_jaccard,
               ROUND(CAST(COALESCE(i.n_i, 0) AS DOUBLE)
                     / (sa.n_tok + sb.n_tok - COALESCE(i.n_i, 0)), 6) AS true_jaccard,
               ROUND(ABS(e.est_j - CAST(COALESCE(i.n_i, 0) AS DOUBLE)
                     / (sa.n_tok + sb.n_tok - COALESCE(i.n_i, 0))), 6) AS abs_err
        FROM est e
        LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
        JOIN sizes sa ON sa.doc_id = e.a_id
        JOIN sizes sb ON sb.doc_id = e.b_id
    """,
)
def d14_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = salt_doc_twins(
        load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
    )
    sigs = minhash_sigs(sample).transform(persist_once)
    cand = band_pairs(minhash_bands(sample))
    agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(N_HASHES)
    )
    est = (
        cand.join(F.broadcast(sigs.alias("sa")), F.col("sa.doc_id") == F.col("a_id"))
        .join(F.broadcast(sigs.alias("sb")), F.col("sb.doc_id") == F.col("b_id"))
        .select("a_id", "b_id", (agree / float(N_HASHES)).alias("est_j"))
    )
    # exact Jaccard over the SAME word-3-gram shingles the signatures
    # hash — estimator and truth measure one metric. Sizes come from
    # their own table, not pair_overlaps: a candidate with zero shingle
    # overlap has no overlap row, yet its true Jaccard (0) is reported
    toks = sample.selectExpr("doc_id", f"explode({_SHINGLES_SQL}) AS tok").distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("a_id"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("b_id")) & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_i"))
    )
    true_j = F.coalesce(F.col("n_i"), F.lit(0)).cast("double") / (
        F.col("sa_n") + F.col("sb_n") - F.coalesce(F.col("n_i"), F.lit(0))
    )
    return (
        est.join(inter, ["a_id", "b_id"], "left")
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("a_id"), F.col("n_tok").alias("sa_n"))),
            "a_id",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("b_id"), F.col("n_tok").alias("sb_n"))),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.round("est_j", 6).alias("est_jaccard"),
            F.round(true_j, 6).alias("true_jaccard"),
            F.round(F.abs(F.col("est_j") - true_j), 6).alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# D16: duplicate-cluster size histogram (the executive dedup audit)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d16_cluster_histogram",
    survey_ref="training-data (dedup audit); composes d2 ∘ d6's components",
    doc="the executive dedup read-out: cluster-size histogram over d2's "
    "VERIFIED near-dup pairs closed into components (d9's membership "
    "rule — verified pairs, not d3 candidates, so boilerplate can't "
    "chain a mega-component), with singletons counted from the "
    "corpus complement. Per size: cluster count, docs covered, and "
    "n_removable = docs − clusters (the mass a keep-one-per-cluster "
    "dedup deletes) — the one-table answer to 'how duplicated is this "
    "corpus and what do we get back'. Components run Hash-to-Min "
    "(1 shuffle/round, rounds ≈ log2 of the cluster diameter); the "
    "histogram aggregates the component-size table, which is "
    "clusters-sized, not corpus-sized. Totals come from 1-row aggs "
    "cross-joined — no driver math.",
    oracle=f"""
        WITH RECURSIVE {_D2_CTES},
        pairs AS (
            SELECT i.a_id, i.b_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
        ),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
        csize AS (SELECT lbl, COUNT(*) AS sz FROM comp GROUP BY lbl),
        hist AS (
            SELECT CAST(sz AS BIGINT) AS cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST(SUM(sz) AS BIGINT) AS n_docs
            FROM csize GROUP BY sz
        ),
        singles AS (
            SELECT CAST(1 AS BIGINT) AS cluster_size,
                   CAST((SELECT COUNT(*) FROM documents)
                        - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_clusters,
                   CAST((SELECT COUNT(*) FROM documents)
                        - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_docs
        )
        SELECT cluster_size, n_clusters, n_docs,
               CAST(n_docs - n_clusters AS BIGINT) AS n_removable
        FROM (SELECT * FROM hist UNION ALL
              SELECT * FROM singles WHERE n_clusters > 0)
        ORDER BY cluster_size
    """,
)
def d16_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = load_table(spark, "documents", sf_dir)
    # d2's verified pairs
    pairs = all_overlaps(shingle_sets(fan_out_small_input(docs))).filter(
        F.expr(JACCARD) >= 0.8
    )
    comps = connected_components(pairs)
    csize = comps.groupBy("lbl").agg(F.count("*").alias("sz"))
    hist = csize.groupBy(F.col("sz").cast("bigint").alias("cluster_size")).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )
    total = docs.agg(F.count("*").alias("n_total"))
    in_comp = comps.agg(F.count("*").alias("n_in"))
    singles = (
        total.crossJoin(in_comp)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n_total") - F.col("n_in")).cast("bigint").alias("n_clusters"),
            (F.col("n_total") - F.col("n_in")).cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return (
        hist.unionByName(singles)
        .withColumn(
            "n_removable", (F.col("n_docs") - F.col("n_clusters")).cast("bigint")
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# D19: URL-keyed dedup on canonical form (f41's downstream)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d19_url_dedup",
    survey_ref="training-data (crawl dedup); f41 ∘ d1's keep-rule",
    doc="crawl-frontier dedup on the CANONICAL URL: every doc emits "
    "1–3 deliberately-messy aliases of its own URL (casing, default "
    "port, param order, fragment — doc_id%3+1 variants, planted "
    "in-query), the f41 normalizer reduces each to canonical form "
    "(shared helper — the oracle reuses f41's exact SQL spelling so "
    "the dedup key can never drift from the normalizer), and the "
    "report proves the collapse: n_raw aliases in, n_canonical out, "
    "every canonical group carrying EXACTLY its planted variant "
    "count (plant_consistent, BOOL_AND in-query). This is why f41 "
    "exists: without canonicalization a crawl stores every alias as "
    "a distinct page. One canonical-key shuffle; at 100 TB the "
    "canonical URL is the frontier's partition key.",
    oracle=f"""
        WITH raw AS (
            SELECT d.doc_id, d.source, g.k,
                   CASE g.k
                       WHEN 0 THEN 'http://www.' || d.source || '.com/docs/'
                                   || d.doc_id || '?a=1&b=2'
                       WHEN 1 THEN 'HTTP://WWW.' || UPPER(d.source)
                                   || '.COM:80/docs/' || d.doc_id
                                   || '/?b=2&a=1#x'
                       ELSE 'http://www.' || d.source || '.com:80/docs/'
                            || d.doc_id || '?b=2&a=1'
                   END AS url
            FROM documents d,
                 LATERAL (SELECT UNNEST(GENERATE_SERIES(0,
                     CAST(d.doc_id % 3 AS INT))) AS k) g
        ), canon AS (
            SELECT doc_id, {_URL_NORM_SQL.format(col="url")} AS curl
            FROM raw
        ), groups AS (
            SELECT curl, MIN(doc_id) AS keep_id, COUNT(*) AS n_variants
            FROM canon GROUP BY curl
        )
        SELECT CAST((SELECT COUNT(*) FROM raw) AS BIGINT) AS n_raw,
               CAST(COUNT(*) AS BIGINT) AS n_canonical,
               CAST((SELECT COUNT(*) FROM raw) - COUNT(*) AS BIGINT)
                   AS n_aliases_removed,
               BOOL_AND(n_variants = keep_id % 3 + 1) AS plant_consistent
        FROM groups
    """,
)
def d19_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import url_normalize_col

    docs = load_table(spark, "documents", sf_dir)
    k = F.explode(F.sequence(F.lit(0), (F.col("doc_id") % 3).cast("int"))).alias("k")
    raw = docs.select("doc_id", "source", k)
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("k") == 0,
            F.concat(
                F.lit("http://www."), F.col("source"), F.lit(".com/docs/"),
                did, F.lit("?a=1&b=2"),
            ),
        )
        .when(
            F.col("k") == 1,
            F.concat(
                F.lit("HTTP://WWW."), F.upper("source"), F.lit(".COM:80/docs/"),
                did, F.lit("/?b=2&a=1#x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://www."), F.col("source"), F.lit(".com:80/docs/"),
                did, F.lit("?b=2&a=1"),
            )
        )
    )
    canon = raw.select("doc_id", url_normalize_col(url).alias("curl"))
    groups = canon.groupBy("curl").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_variants")
    )
    n_raw = canon.agg(F.count("*").alias("n_raw"))
    return (
        groups.agg(
            F.count("*").cast("bigint").alias("n_canonical"),
            F.bool_and(
                F.col("n_variants") == F.col("keep_id") % 3 + 1
            ).alias("plant_consistent"),
        )
        .crossJoin(F.broadcast(n_raw))
        .select(
            F.col("n_raw").cast("bigint").alias("n_raw"),
            "n_canonical",
            (F.col("n_raw") - F.col("n_canonical")).cast("bigint").alias(
                "n_aliases_removed"
            ),
            "plant_consistent",
        )
    )


# ---------------------------------------------------------------------------
# D20: soft dedup — per-document duplication weights
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d20_soft_dedup_weights",
    survey_ref="training-data (soft dedup); d16's weighting form",
    doc="soft dedup: instead of DROPPING duplicates (d9's keep-one), "
    "down-weight every member of a near-dup cluster by 1/cluster_size "
    "so the cluster contributes one document's worth of gradient — "
    "the repetition-aware sampling weight (cf. the duplication "
    "discount in data-mixture work) that preserves in-cluster "
    "diversity a hard dedup throws away. Clusters are d2's VERIFIED "
    "pairs closed into components (d16's membership); singletons "
    "weigh 1.0 via the left join. Output: every doc's cluster size "
    "and weight, hash-checked via the recursive-CTE oracle. The "
    "weight column broadcasts onto u17/u10's samplers unchanged.",
    oracle=f"""
        WITH RECURSIVE {_D2_CTES},
        pairs AS (
            SELECT i.a_id, i.b_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.8
        ),
        edges AS (
            SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL
            SELECT b_id, a_id FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        ),
        comp AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY id),
        csize AS (SELECT lbl, COUNT(*) AS sz FROM comp GROUP BY lbl)
        SELECT d.doc_id,
               CAST(COALESCE(s.sz, 1) AS BIGINT) AS cluster_size,
               ROUND(1.0 / COALESCE(s.sz, 1), 6) AS soft_weight
        FROM documents d
        LEFT JOIN comp c ON d.doc_id = c.id
        LEFT JOIN csize s ON c.lbl = s.lbl
        ORDER BY d.doc_id
    """,
)
def d20_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = load_table(spark, "documents", sf_dir)
    # d2's verified pairs
    pairs = all_overlaps(shingle_sets(fan_out_small_input(docs))).filter(
        F.expr(JACCARD) >= 0.8
    )
    comps = connected_components(pairs)
    csize = comps.groupBy("lbl").agg(F.count("*").alias("sz"))
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.id, "left")
        .join(F.broadcast(csize), "lbl", "left")
        .select(
            "doc_id",
            F.coalesce("sz", F.lit(1)).cast("bigint").alias("cluster_size"),
            F.round(1.0 / F.coalesce("sz", F.lit(1)), 6).alias("soft_weight"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D21: Bloom-filter crawl-frontier membership probe
# ---------------------------------------------------------------------------

_BLOOM_M = 2048  # bit-array size
_BLOOM_K = 3  # hash functions

# normalization shared with d1's fingerprint() — spelled once so the
# Spark side (functions/text.py:90) and this oracle stay twins
_NORM_FP_SQL = "MD5(REGEXP_REPLACE(LOWER(TRIM({t})), '\\s+', ' ', 'g'))"


@REGISTRY.register(
    name="d21_bloom_dedup_probe",
    survey_ref="training-data (crawl-frontier membership); d1/d7's probe form",
    doc="Bloom-filter seen-set probe for crawl ingestion (Bloom, CACM "
    f"1970): yesterday's corpus is summarized as a {_BLOOM_M}-bit / "
    f"{_BLOOM_K}-hash filter over d1's normalized fingerprints; "
    "today's batch (whitespace-mangled re-crawls of doc_id%7==0 — "
    "true dupes — plus doc_id%5==1 docs with a uniqueness suffix — "
    "true fresh) is checked map-side against the broadcast bitset. "
    "Per batch doc: exact_seen (ground truth), bloom_positive, and "
    "the no-false-negative law fn_ok = bloom_positive OR NOT "
    "exact_seen, verified row-by-row by the hash oracle (the filter "
    "is deliberately sized hot — ~0.73 bits-load — so false "
    "POSITIVES also occur and the probe is non-vacuous both ways). "
    "At 100 TB the corpus reduces ONCE to ≤m distinct bit rows that "
    "broadcast to every executor; each crawl batch is then a "
    "map-only scan — no shuffle ever carries document text, and the "
    "expensive exact verify (d7's join) runs only on the "
    "bloom-positive sliver. Hash positions are md5-derived "
    "(engine-portable); production swaps in xxhash64.",
    oracle=f"""
        WITH seen AS (
            SELECT DISTINCT {_NORM_FP_SQL.format(t="text")} AS f FROM documents
        ), batch AS (
            SELECT doc_id + 1000000 AS doc_id,
                   {_NORM_FP_SQL.format(t="'  ' || UPPER(text) || '  '")} AS f
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 2000000,
                   {_NORM_FP_SQL.format(t="text || ' uniq-' || CAST(doc_id AS VARCHAR)")}
            FROM documents WHERE doc_id % 5 = 1
        ), seen_bits AS (
            SELECT DISTINCT
                   ('0x' || SUBSTR(MD5(f || '#' || j), 1, 8))::BIGINT % {_BLOOM_M} AS bit
            FROM seen, LATERAL (SELECT UNNEST([0, 1, 2]) AS j) t
        ), probe AS (
            SELECT b.doc_id, b.f,
                   ('0x' || SUBSTR(MD5(b.f || '#' || j), 1, 8))::BIGINT % {_BLOOM_M} AS bit
            FROM batch b, LATERAL (SELECT UNNEST([0, 1, 2]) AS j) t
        ), verdict AS (
            SELECT p.doc_id,
                   COUNT(sb.bit) = {_BLOOM_K} AS bloom_positive
            FROM probe p LEFT JOIN seen_bits sb ON p.bit = sb.bit
            GROUP BY p.doc_id
        )
        SELECT b.doc_id,
               EXISTS (SELECT 1 FROM seen s WHERE s.f = b.f) AS exact_seen,
               v.bloom_positive,
               v.bloom_positive
                   OR NOT EXISTS (SELECT 1 FROM seen s WHERE s.f = b.f) AS fn_ok
        FROM batch b JOIN verdict v ON b.doc_id = v.doc_id
        ORDER BY b.doc_id
    """,
)
def d21_bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.functions.text import fingerprint

    docs = load_table(spark, "documents", sf_dir)
    seen = docs.select(fingerprint(F.col("text")).alias("f")).distinct()

    mangled = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        fingerprint(F.concat(F.lit("  "), F.upper("text"), F.lit("  "))).alias("f"),
    )
    fresh = docs.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        fingerprint(
            F.concat(F.col("text"), F.lit(" uniq-"), F.col("doc_id").cast("string"))
        ).alias("f"),
    )
    batch = mangled.unionByName(fresh)

    def bloom_bit(f: Column, j: int) -> Column:
        return (
            F.conv(F.substring(F.md5(F.concat(f, F.lit(f"#{j}"))), 1, 8), 16, 10)
            .cast("long")
            % _BLOOM_M
        )

    bits = F.array(*[bloom_bit(F.col("f"), j) for j in range(_BLOOM_K)])
    # the whole filter is ≤ m distinct rows — broadcast to every probe task
    seen_bits = seen.select(F.explode(bits).alias("bit")).distinct()
    probe = batch.select("doc_id", F.explode(bits).alias("bit"))
    verdict = (
        probe.join(F.broadcast(seen_bits), "bit", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
        .select("doc_id", (F.col("n_hit") == _BLOOM_K).alias("hit_all"))
    )
    return (
        batch.join(F.broadcast(seen.withColumn("exact_seen", F.lit(True))), "f", "left")
        .join(F.broadcast(verdict), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_seen", F.lit(False)).alias("exact_seen"),
            F.coalesce("hit_all", F.lit(False)).alias("bloom_positive"),
            (
                F.coalesce("hit_all", F.lit(False))
                | ~F.coalesce("exact_seen", F.lit(False))
            ).alias("fn_ok"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# D22: bag-of-words dedup — order-invariant exact signature
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d22_bag_of_words_dedup",
    survey_ref="training-data (dedup tier between d1 exact and d2 fuzzy)",
    doc="order-invariant exact dedup: the signature is the md5 of the "
    "SORTED token multiset, so a word-shuffled or re-ordered copy "
    "(template re-renders, list re-orderings, CSV column permutations "
    "serialized to text) collapses even though d1's normalized-text "
    "fingerprint sees two distinct documents. The corpus is planted "
    "in-query with token-REVERSED copies of doc_id%15==0 (invisible "
    "to d1, exact bag-matches here); output is the one-row ledger "
    "comparing the two tiers: n_exact_unique − n_bag_unique = the "
    "duplicates ONLY the bag signature catches, which must equal the "
    "plant count (plants_caught, pinned in-query via BOOL check). "
    "Same cost shape as d1 — one map-side signature + one "
    "uniform-hash groupBy; the sort is per-row, bounded by doc "
    "length, never a shuffle.",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 3000000,
                   ARRAY_TO_STRING(LIST_REVERSE(STRING_SPLIT(text, ' ')), ' ')
            FROM documents WHERE doc_id % 15 = 0
        ), sigs AS (
            SELECT doc_id,
                   MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS exact_fp,
                   MD5(ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(LOWER(TRIM(text)), ' ')), ' ')) AS bag_fp
            FROM corpus
        ), plants AS (
            SELECT COUNT(*) AS n_planted FROM documents WHERE doc_id % 15 = 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT exact_fp) AS BIGINT) AS n_exact_unique,
               CAST(COUNT(DISTINCT bag_fp) AS BIGINT) AS n_bag_unique,
               CAST(COUNT(DISTINCT exact_fp) - COUNT(DISTINCT bag_fp) AS BIGINT)
                   AS n_order_only_dups,
               COUNT(DISTINCT exact_fp) - COUNT(DISTINCT bag_fp)
                   >= (SELECT n_planted FROM plants) AS plants_caught
        FROM sigs
    """,
)
def d22_bag_of_words_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    reversed_ = docs.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(F.split("text", " "))).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(reversed_)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    sigs = corpus.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("exact_fp"),
        F.md5(
            F.encode(
                F.concat_ws(" ", F.array_sort(F.split(F.lower(F.trim(F.col("text"))), " "))),
                "UTF-8",
            )
        ).alias("bag_fp"),
    )
    n_planted = docs.filter(F.col("doc_id") % 15 == 0).agg(
        F.count("*").alias("n_planted")
    )
    return (
        sigs.agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("exact_fp").alias("n_exact_unique"),
            F.countDistinct("bag_fp").alias("n_bag_unique"),
        )
        .crossJoin(F.broadcast(n_planted))
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_exact_unique").cast("bigint").alias("n_exact_unique"),
            F.col("n_bag_unique").cast("bigint").alias("n_bag_unique"),
            (F.col("n_exact_unique") - F.col("n_bag_unique"))
            .cast("bigint")
            .alias("n_order_only_dups"),
            (
                F.col("n_exact_unique") - F.col("n_bag_unique") >= F.col("n_planted")
            ).alias("plants_caught"),
        )
    )


# ---------------------------------------------------------------------------
# d27: shingle-size sensitivity (the OTHER dedup knob; d14 prices bands)
# ---------------------------------------------------------------------------

_D27_NS = (3, 5, 8)
_D27_TAU = 0.8  # the dedup threshold the curve is read against
_D27_FOOTER = " zz1 zz2 zz3 zz4 zz5"  # planted 5-token mutation


def _d27_block_sql(n: int) -> str:
    return f"""
            SELECT {n} AS shingle_n,
                   ROUND(AVG(j), 4) AS mean_jaccard,
                   CAST(SUM(CASE WHEN j >= {_D27_TAU} THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_detected,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM (
                WITH pairs AS (
                    SELECT doc_id, STRING_SPLIT(text, ' ') AS ta,
                           STRING_SPLIT(text || '{_D27_FOOTER}', ' ') AS tb
                    FROM documents WHERE doc_id % 10 = 0
                ), ga AS (
                    SELECT DISTINCT doc_id,
                           UNNEST(LIST_TRANSFORM(
                               GENERATE_SERIES(1, GREATEST(LEN(ta) - {n - 1}, 0)),
                               i -> ARRAY_TO_STRING(ta[i:(i + {n - 1})], ' ')))
                               AS gram
                    FROM pairs
                ), gb AS (
                    SELECT DISTINCT doc_id,
                           UNNEST(LIST_TRANSFORM(
                               GENERATE_SERIES(1, GREATEST(LEN(tb) - {n - 1}, 0)),
                               i -> ARRAY_TO_STRING(tb[i:(i + {n - 1})], ' ')))
                               AS gram
                    FROM pairs
                ), na AS (
                    SELECT doc_id, COUNT(*) AS ca FROM ga GROUP BY doc_id
                ), nb AS (
                    SELECT doc_id, COUNT(*) AS cb FROM gb GROUP BY doc_id
                ), inter AS (
                    SELECT a.doc_id, COUNT(*) AS ci
                    FROM ga a JOIN gb b ON b.doc_id = a.doc_id
                                       AND b.gram = a.gram
                    GROUP BY a.doc_id
                )
                SELECT na.doc_id,
                       COALESCE(i.ci, 0)
                           / CAST(na.ca + nb.cb - COALESCE(i.ci, 0) AS DOUBLE)
                           AS j
                FROM na JOIN nb USING (doc_id)
                LEFT JOIN inter i USING (doc_id)
            )
    """


@REGISTRY.register(
    name="d27_shingle_sensitivity",
    survey_ref="training-data (dedup tuning); d14 prices the BAND "
    "layout at fixed shingles — this prices the SHINGLE SIZE, the "
    "other knob, against planted mutations",
    doc=f"shingle-size sensitivity curve: each doc_id%10==0 document "
    f"gets a planted 5-token footer twin (the near-dup a template "
    f"re-render produces), and for n ∈ {_D27_NS} the exact n-gram "
    f"Jaccard original↔twin is measured — mean Jaccard, pairs "
    f"detected at the τ={_D27_TAU} dedup bar, and the pair count. "
    "Larger shingles amplify a small mutation (every gram crossing "
    "the footer boundary breaks), so detection DEGRADES with n — "
    "the measured argument for the corpus's shingle choice, the way "
    "d14 argues the band choice. Pairs are KNOWN (original↔twin), "
    "so the whole audit is doc_id-keyed — no candidate join, no "
    "corpus self-join; cost is the planted slice's gram explode "
    "× |{_D27_NS}|.",
    oracle=" UNION ALL ".join(_d27_block_sql(n) for n in _D27_NS)
    + " ORDER BY shingle_n",
)
def d27_shingle_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.split("text", " ").alias("ta"),
            F.split(F.concat(F.col("text"), F.lit(_D27_FOOTER)), " ").alias("tb"),
        )
        .transform(persist_once)
    )

    outs = []
    for n in _D27_NS:
        ga = docs.selectExpr("doc_id", f"explode({grams_sql('ta', n)}) AS gram").distinct()
        gb = docs.selectExpr("doc_id", f"explode({grams_sql('tb', n)}) AS gram").distinct()
        na = ga.groupBy("doc_id").agg(F.count("*").alias("ca"))
        nb = gb.groupBy("doc_id").agg(F.count("*").alias("cb"))
        inter = (
            ga.join(gb, ["doc_id", "gram"])
            .groupBy("doc_id")
            .agg(F.count("*").alias("ci"))
        )
        j = F.coalesce(F.col("ci"), F.lit(0)) / (
            F.col("ca") + F.col("cb") - F.coalesce(F.col("ci"), F.lit(0))
        ).cast("double")
        per_pair = (
            na.join(nb, "doc_id").join(inter, "doc_id", "left").select(j.alias("j"))
        )
        outs.append(
            per_pair.agg(
                F.lit(n).alias("shingle_n"),
                F.round(F.avg("j"), 4).alias("mean_jaccard"),
                F.sum(F.when(F.col("j") >= _D27_TAU, 1).otherwise(0))
                .cast("bigint")
                .alias("n_detected"),
                F.count("*").cast("bigint").alias("n_pairs"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("shingle_n")


# ---------------------------------------------------------------------------
# d28: transitivity audit — is single-linkage safe at the dedup threshold?
# ---------------------------------------------------------------------------

_D28_TAU = 0.8


@REGISTRY.register(
    name="d28_transitivity_audit",
    survey_ref="training-data (dedup clustering soundness); d6 closes "
    "verified pairs into components by SINGLE LINKAGE — sound only "
    "if near-duplication is quasi-transitive at the threshold, and "
    "this MEASURES that instead of assuming it",
    doc=f"transitivity audit of the τ={_D28_TAU} near-dup relation: "
    "over the exact-Jaccard edge set (d2's spelling), every length-2 "
    "path a–b–c is checked for whether the closing pair (a,c) also "
    "clears τ; the violation rate is the fraction of paths whose "
    "closure FAILS — high violation means single-linkage chains "
    "unrelated docs through shared boilerplate (the d9 docstring's "
    "mega-component failure, here quantified), low violation "
    "licenses d6's component closure. Path enumeration joins the "
    "(tiny) edge list to itself on the shared middle; the closing "
    "Jaccard is looked up in the same pair table — nothing beyond "
    "d2's shingle machinery runs.",
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0)),
                       i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:(i + 2)], ' ')))
                       AS shingle
            FROM documents
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                              AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), allj AS (
            SELECT i.a_id, i.b_id,
                   CAST(i.n_inter AS DOUBLE)
                       / (sa.n_sh + sb.n_sh - i.n_inter) AS j
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a_id
            JOIN sizes sb ON sb.doc_id = i.b_id
        ), edges AS (
            SELECT a_id AS u, b_id AS v FROM allj WHERE j >= {_D28_TAU}
            UNION ALL
            SELECT b_id, a_id FROM allj WHERE j >= {_D28_TAU}
        ), paths AS (
            SELECT e1.u AS a, e1.v AS m, e2.v AS c
            FROM edges e1 JOIN edges e2 ON e2.u = e1.v AND e2.v > e1.u
            WHERE e2.v != e1.u
        ), closed AS (
            SELECT p.a, p.m, p.c,
                   COALESCE(j.j, 0.0) >= {_D28_TAU} AS closes
            FROM paths p
            LEFT JOIN allj j ON j.a_id = p.a AND j.b_id = p.c
        )
        SELECT CAST((SELECT COUNT(*) FROM allj WHERE j >= {_D28_TAU})
                   AS BIGINT) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_paths2,
               CAST(SUM(CASE WHEN closes THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_closed,
               ROUND(AVG(CASE WHEN closes THEN 0.0 ELSE 1.0 END), 4)
                   AS violation_rate,
               AVG(CASE WHEN closes THEN 0.0 ELSE 1.0 END) < 0.2
                   AS single_linkage_safe
        FROM closed
    """,
)
def d28_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    # d2's Σdf² exactness tier over the full corpus, so the audit is the
    # fixture-scale tier — d28b is the banded at-scale spelling
    allj = (
        all_overlaps(shingle_sets(docs))
        .select("a_id", "b_id", F.expr(JACCARD).alias("j"))
        .transform(persist_once)
    )
    strong = allj.filter(F.col("j") >= _D28_TAU)
    edges = strong.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).unionAll(
        strong.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    paths = e1.join(
        e2,
        (F.col("e2.u") == F.col("e1.v"))
        & (F.col("e2.v") > F.col("e1.u"))
        & (F.col("e2.v") != F.col("e1.u")),
    ).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("m"), F.col("e2.v").alias("c")
    )
    closed = paths.join(
        allj.select(F.col("a_id").alias("a"), F.col("b_id").alias("c"), "j"),
        ["a", "c"],
        "left",
    ).select(
        (F.coalesce(F.col("j"), F.lit(0.0)) >= _D28_TAU).alias("closes")
    )
    n_edges = strong.count()
    return closed.agg(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.count("*").cast("bigint").alias("n_paths2"),
        F.sum(F.when(F.col("closes"), 1).otherwise(0)).cast("bigint").alias(
            "n_closed"
        ),
        F.round(F.avg(F.when(F.col("closes"), 0.0).otherwise(1.0)), 4).alias(
            "violation_rate"
        ),
        (F.avg(F.when(F.col("closes"), 0.0).otherwise(1.0)) < 0.2).alias(
            "single_linkage_safe"
        ),
    )


# ---------------------------------------------------------------------------
# D28b: transitivity audit AT SCALE (banded edges, path-priced closure)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="d28b_transitivity_at_scale",
    survey_ref="training-data (dedup clustering soundness at 100 TB); "
    "d28's edge relation is d2's full-corpus Σdf² exactness tier — "
    "this runs the SAME audit on the banded candidates→verify edge "
    "set (d9b's machinery) with the closing pairs verified exactly",
    doc=f"the 100 TB spelling of d28's transitivity audit: MinHash "
    "band collisions over the salted 1-in-10 sample propose candidate "
    "pairs, exact word-3-gram Jaccard ≥ 0.8 verifies them into the "
    "edge set (d9b's candidates→verify, shared oracle CTEs), length-2 "
    "paths a–b–c enumerate on the shared middle, and each DISTINCT "
    "closing pair (a,c) gets its exact Jaccard computed DIRECTLY from "
    "the shingle table — path-priced, so a closure that never "
    "collided in any band is still judged by its true Jaccard "
    "instead of being miscounted as a violation (the correctness "
    "trap of auditing closures against candidate-only pairs). "
    "Violation rate ≥ 0.2 would flag single-linkage chaining; every "
    "30th sampled doc gets TWO footer twins (offsets 2e6/4e6, "
    "disjoint id ranges) so a–t1/a–t2 edges form real length-2 paths "
    "at every SF — a single twin per doc yields disjoint pairs and "
    "an audit with nothing to judge (measured: n_paths2 = 0). Every "
    "stage is banded/path-bounded: band equi-join candidates, verify "
    "prices collisions, paths price edge fan-out, closure verify "
    "prices paths — no corpus×corpus contact anywhere.",
    oracle=f"""
        WITH salted_docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + {_TWIN_DOC_OFFSET}, text || '{_TWIN_FOOTER}'
            FROM documents WHERE doc_id % 30 = 0
            UNION ALL
            SELECT doc_id + {2 * _TWIN_DOC_OFFSET},
                   text || ' almost identical footer variation'
            FROM documents WHERE doc_id % 30 = 0
        )
        {_bands_sql("TRUE", src="salted_docs", lead=", ")}
        , cands AS (
            SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_val = b.band_val
             AND a.doc_id < b.doc_id
        ), sdocs AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM salted_docs
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
        ), strong AS (
            SELECT i.a_id, i.b_id
            FROM inter i
            JOIN sizes sa ON i.a_id = sa.doc_id
            JOIN sizes sb ON i.b_id = sb.doc_id
            WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
                  >= {_D28_TAU}
        ), edges AS (
            SELECT a_id AS u, b_id AS v FROM strong
            UNION ALL
            SELECT b_id, a_id FROM strong
        ), paths AS (
            SELECT e1.u AS a, e1.v AS m, e2.v AS c
            FROM edges e1 JOIN edges e2 ON e2.u = e1.v AND e2.v > e1.u
            WHERE e2.v != e1.u
        ), closure_pairs AS (
            SELECT DISTINCT a, c FROM paths
        ), closure_inter AS (
            SELECT cp.a, cp.c, COUNT(*) AS n_inter
            FROM closure_pairs cp
            JOIN sh x ON x.doc_id = cp.a
            JOIN sh y ON y.doc_id = cp.c AND y.shingle = x.shingle
            GROUP BY cp.a, cp.c
        ), closure_j AS (
            SELECT ci.a, ci.c,
                   CAST(ci.n_inter AS DOUBLE)
                       / (sa.n_sh + sc.n_sh - ci.n_inter) AS j
            FROM closure_inter ci
            JOIN sizes sa ON sa.doc_id = ci.a
            JOIN sizes sc ON sc.doc_id = ci.c
        ), closed AS (
            SELECT p.a, p.m, p.c,
                   COALESCE(cj.j, 0.0) >= {_D28_TAU} AS closes
            FROM paths p
            LEFT JOIN closure_j cj ON cj.a = p.a AND cj.c = p.c
        )
        SELECT CAST((SELECT COUNT(*) FROM strong) AS BIGINT) AS n_edges,
               CAST(COUNT(*) AS BIGINT) AS n_paths2,
               CAST(COALESCE(SUM(CASE WHEN closes THEN 1 ELSE 0 END), 0)
                   AS BIGINT) AS n_closed,
               ROUND(COALESCE(AVG(CASE WHEN closes THEN 0.0 ELSE 1.0 END),
                              0.0), 4) AS violation_rate,
               COALESCE(AVG(CASE WHEN closes THEN 0.0 ELSE 1.0 END), 0.0)
                   < 0.2 AS single_linkage_safe
        FROM closed
    """,
)
def d28b_transitivity_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded edges (d9b's candidates→verify) + path-priced exact
    closure verify. Cites d28 (the full-corpus exactness tier) for the
    audit semantics; at 100 TB only this spelling completes."""
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    base = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
    guarded = base.select(
        F.expr(_guard_below_twin_offset()).alias("doc_id"), "text"
    )
    sel = base.filter(F.col("doc_id") % 30 == 0)
    twins = sel.select(
        (F.col("doc_id") + _TWIN_DOC_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_TWIN_FOOTER)).alias("text"),
    ).unionByName(
        sel.select(
            (F.col("doc_id") + 2 * _TWIN_DOC_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" almost identical footer variation")).alias(
                "text"
            ),
        )
    )
    docs = fan_out_small_input(guarded.unionByName(twins)).transform(persist_once)
    sh = shingle_sets(docs)
    strong = (
        pair_overlaps(band_pairs(minhash_bands(docs)), sh)
        .filter(F.expr(JACCARD) >= _D28_TAU)
        .select("a_id", "b_id")
        .transform(persist_once)  # feeds the edge doubling AND n_edges
    )
    edges = strong.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).unionAll(
        strong.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    )
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    # both sides of the path self-join are the corpus-scaled edge set —
    # d13 rule: pin shuffle_hash so a size misestimate can't broadcast it
    paths = (
        e1.join(
            e2.hint("shuffle_hash"),
            (F.col("e2.u") == F.col("e1.v"))
            & (F.col("e2.v") > F.col("e1.u"))
            & (F.col("e2.v") != F.col("e1.u")),
        )
        .select(
            F.col("e1.u").alias("a"), F.col("e1.v").alias("m"), F.col("e2.v").alias("c")
        )
        .transform(persist_once)  # feeds closure pairs AND the final agg
    )
    closure_pairs = paths.select(F.col("a").alias("a_id"), F.col("c").alias("b_id")).distinct()
    closure_j = pair_overlaps(closure_pairs, sh).select(
        F.col("a_id").alias("a"), F.col("b_id").alias("c"), F.expr(JACCARD).alias("j")
    )
    # closure_j is a post-aggregate of the corpus-scaled path set —
    # same d13 rule, never trust the fixture-scale size estimate
    closed = paths.join(closure_j.hint("shuffle_hash"), ["a", "c"], "left").select(
        (F.coalesce(F.col("j"), F.lit(0.0)) >= _D28_TAU).alias("closes")
    )
    n_edges = strong.count()
    # COALESCE the empty-path aggregates on BOTH engines: a corpus with
    # verified edges but zero length-2 paths would otherwise render
    # NULL/NaN differently across the Arrow/pandas boundary (measured
    # during the twin-pair fixture bug) — an all-closed default is the
    # honest reading of "no path violated"
    viol = F.coalesce(F.avg(F.when(F.col("closes"), 0.0).otherwise(1.0)), F.lit(0.0))
    return closed.agg(
        F.lit(n_edges).cast("bigint").alias("n_edges"),
        F.count("*").cast("bigint").alias("n_paths2"),
        F.coalesce(F.sum(F.when(F.col("closes"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_closed"),
        F.round(viol, 4).alias("violation_rate"),
        (viol < 0.2).alias("single_linkage_safe"),
    )


# ---------------------------------------------------------------------------
# D29: cross-document line-level dedup (CCNet line scrub)
# ---------------------------------------------------------------------------

_D29_SEG = 10  # words per pseudo-line (deterministic segmenter)
_D29_K = 20  # a segment in >= K distinct docs is boilerplate
_D29_HEADER = (
    "subscribe to our newsletter click here now accept cookies policy"
)  # exactly _D29_SEG words → its own segment


@REGISTRY.register(
    name="d29_crossdoc_line_dedup",
    survey_ref="training-data (the APPLY step to t20's boilerplate "
    "detector): t20 reports recurring 5-grams, d13 elides WITHIN-doc "
    "repeats — this removes cross-doc repeated lines from the text "
    "itself, the CCNet/C4 line-dedup pass",
    doc="cross-document line-level dedup: each doc segments into "
    f"consecutive {_D29_SEG}-word pseudo-lines (the fixture has no "
    "newlines; the segmenter is deterministic so both engines cut "
    "identically), every segment hashes, and segments appearing in "
    f">= {_D29_K} distinct docs are scrubbed from every doc — "
    "headers/footers/cookie banners at crawl scale. A planted header "
    "(salting convention: doc_id%4==0 prepends a fixed "
    f"{_D29_SEG}-word banner IN-QUERY) proves the scrub fires at "
    "every SF; natural word-soup segments stay unique and survive. "
    "Output per doc: segment counts and the CLEANED text, "
    "hash-checked bit-for-bit. Scale: one segment-keyed shuffle "
    "(count distinct docs per segment hash ~ t20's shape), one "
    "broadcast-able boilerplate set (recurring lines are few by "
    "definition), one doc-keyed reassembly — never doc×doc.",
    oracle=f"""
        WITH salted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0
                        THEN '{_D29_HEADER} ' || text ELSE text END AS text
            FROM documents
        ), segs AS (
            SELECT doc_id, i AS seg_idx,
                   ARRAY_TO_STRING(toks[(i * {_D29_SEG} + 1):((i + 1) * {_D29_SEG})], ' ') AS seg
            FROM (SELECT doc_id, STR_SPLIT(text, ' ') AS toks FROM salted),
                 LATERAL (SELECT UNNEST(GENERATE_SERIES(
                     0, CAST(CEIL(LEN(toks) / {_D29_SEG}.0) AS BIGINT) - 1)) AS i) g
        ), boiler AS (
            SELECT MD5(seg) AS h
            FROM segs GROUP BY MD5(seg)
            HAVING COUNT(DISTINCT doc_id) >= {_D29_K}
        ), kept AS (
            SELECT s.doc_id, s.seg_idx, s.seg,
                   b.h IS NOT NULL AS is_boiler
            FROM segs s LEFT JOIN boiler b ON MD5(s.seg) = b.h
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_scrubbed,
               COALESCE(STRING_AGG(CASE WHEN NOT is_boiler THEN seg END, ' '
                          ORDER BY seg_idx), '') AS clean_text
        FROM kept GROUP BY doc_id
    """,
)
def d29_crossdoc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    salted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(_D29_HEADER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    toks = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(toks) / _D29_SEG).cast("long")
    segs = (
        salted.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_seg - 1),
                    lambda i: F.array_join(
                        F.slice(toks, i * _D29_SEG + 1, _D29_SEG), " "
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
        .transform(persist_once)  # feeds both the boiler count and reassembly
    )
    boiler = (
        segs.groupBy(F.md5(F.encode("seg", "UTF-8")).alias("h"))
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _D29_K)
        .select("h")
    )
    kept = segs.join(
        F.broadcast(boiler),
        F.md5(F.encode(F.col("seg"), "UTF-8")) == F.col("h"),
        "left",
    ).select(
        "doc_id", "seg_idx", "seg", F.col("h").isNotNull().alias("is_boiler")
    )
    return kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_segments"),
        F.sum(F.col("is_boiler").cast("int")).cast("bigint").alias("n_scrubbed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("is_boiler"), F.struct("seg_idx", "seg")
                        )
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# D5b: LSH-bucketed embedding dedup — d5's production blocking
# ---------------------------------------------------------------------------

_D5B_TABLES, _D5B_PLANES = 6, 14  # fine buckets: random-pair collision
# per table ≈ 2^-14; a cos≥0.98 pair (θ≈11.5°) collides in ≥1 of the 6
# tables with ~95% probability — and the planted exact twins (cos=1)
# collide in every table, so the gate provably fires at every SF
_D5B_TWIN_OFFSET = 1_000_000
_D5B_COS = 0.98


@REGISTRY.register(
    name="d5b_lsh_embedding_dedup",
    survey_ref="V7/J6 at scale (d5's production blocking): d5 blocks on "
    "the fixture label — FIXED cardinality, so in-block pairs are "
    "quadratic (measured: DNF at the sf10 rehearsal, the j12/d8 "
    "defect class); its own doc names the production fix. This is "
    "that fix, oracled",
    doc="embedding near-dup with LSH-bucket candidate generation: "
    f"{_D5B_TABLES} tables × {_D5B_PLANES} md5-pinned hyperplanes "
    "(SQL-replayable family, v27/v3d's discipline) bucket every "
    "vector; candidates are bucket collisions only; cosine ≥ "
    f"{_D5B_COS} verifies (rounded, engine-portable); canonical = "
    "min neighbor id, self included (d5's rule). Every 25th vector "
    "gains an exact-duplicate twin in-query (vec_id + 1e6) — cos = 1 "
    "collides in all tables, so twin links are provable output at "
    "every SF while random pairs collide at ~2^-14/table. Scale: "
    "candidates ∝ Σ bucket², bounded by the plane count knob — the "
    "shape that replaces d5's label block past fixture scale.",
    oracle=f"""
        WITH salted AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
            FROM embeddings
            UNION ALL
            SELECT vec_id + {_D5B_TWIN_OFFSET}, CAST(embedding AS DOUBLE[])
            FROM embeddings WHERE vec_id % 25 = 0
        ), planes AS ({_MD5_PLANES_SQL.format(tmax=_D5B_TABLES - 1,
                                              pmax=_D5B_PLANES - 1, imax=63)}
        ), comps AS (
            SELECT vec_id, GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS i,
                   UNNEST(embedding) AS x
            FROM salted
        ), {_MD5_SIGS_SQL.strip()}
        , cand AS (
            SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
            FROM sigs a JOIN sigs b ON a.t = b.t AND a.b = b.b
        ), verified AS (
            SELECT c.a_id, c.b_id
            FROM cand c
            JOIN salted a ON a.vec_id = c.a_id
            JOIN salted b ON b.vec_id = c.b_id
            WHERE ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 6)
                  >= {_D5B_COS}
        )
        SELECT a_id AS vec_id, CAST(MIN(b_id) AS BIGINT) AS canonical_id
        FROM verified GROUP BY a_id
    """,
)
def d5b_lsh_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.vector.similarity import (
        as_double,
        cos_normed,
        lsh_signatures,
        md5_planes,
        with_norm,
    )

    # vec-side analogue of the doc-twin guard (r8 ADVICE): a fixture
    # whose vec_ids reach the offset would conflate twin and genuine
    # ids in BOTH engines — hashes stay green while the planted-twin
    # invariant silently degrades, so fail loudly per-row instead.
    # Both branches filter/derive from the RAW column and apply the
    # guard in their own select, so scan-level filter derivation
    # survives (guarding before the twin filter wrapped vec_id in a
    # CASE and blocked pushdown).
    raw = load_table(spark, "embeddings", sf_dir)
    guarded = F.expr(_guard_below_twin_offset("vec_id", _D5B_TWIN_OFFSET, "_D5B_TWIN_OFFSET"))
    emb = raw.select(
        guarded.alias("vec_id"), as_double("embedding").alias("embedding")
    )
    salted = emb.unionByName(
        raw.filter(F.col("vec_id") % 25 == 0).select(
            (guarded + _D5B_TWIN_OFFSET).alias("vec_id"),
            as_double("embedding").alias("embedding"),
        )
    )
    planes = md5_planes(_D5B_TABLES, _D5B_PLANES, 64)
    sigs = salted.select(
        "vec_id",
        F.posexplode(
            lsh_signatures(F.col("embedding"), planes, round_digits=6)
        ).alias("t", "b"),
    ).transform(persist_once)  # meets itself in the bucket join
    cand = (
        sigs.alias("a")
        .hint("shuffle_hash")  # both sides corpus-sized; never broadcast
        .join(
            sigs.alias("b"),
            (F.col("a.t") == F.col("b.t")) & (F.col("a.b") == F.col("b.b")),
        )
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
        .distinct()
    )
    side = with_norm(salted, "embedding", "v", "n").transform(persist_once)
    a = side.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"), F.col("n").alias("na")
    )
    b = side.select(
        F.col("vec_id").alias("b_id"), F.col("v").alias("bv"), F.col("n").alias("nb")
    )
    verified = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .filter(
            F.round(cos_normed("av", "na", "bv", "nb"), 6) >= _D5B_COS
        )
        .select("a_id", "b_id")
    )
    return verified.groupBy(F.col("a_id").alias("vec_id")).agg(
        F.min("b_id").cast("bigint").alias("canonical_id")
    )
