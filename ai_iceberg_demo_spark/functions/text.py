"""Text analysis & chunking — SURVEY.md §2.10 (V2, V10) + training-data ops.

The reference chunks reports at 1000 chars with 200 overlap
(`neo4j_rag.py:42-43,94-118`) and tracks report length/word-count
targets (`interactive_research_workflow.py:292`, `writer_agent.py:16-18`).
Beyond that surface, this module adds the text operators a large-scale
training-data pipeline needs: language-ID heuristic, quality scoring,
token counting (whitespace + BPE-ish regex), and document
fingerprinting — all as built-in-function column expressions (JVM-side,
whole-stage codegen; no Python in the hot path).

Scale notes: every operator is a narrow per-row transformation — no
shuffle at all; at 100 TB these run map-only over the document scan
and pipeline into whatever agg/dedup consumes them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import (
    fan_out_by_key,
    fan_out_small_input,
    load_table,
    long_metrics,
    persist_once,
)

REGISTRY = Registry()

CHUNK_SIZE = 1000  # reference CHUNK_SIZE, neo4j_rag.py:42
CHUNK_OVERLAP = 200  # reference CHUNK_OVERLAP, neo4j_rag.py:43

# Stopword list for the quality/langid heuristics (fixture corpus vocabulary).
_STOPWORDS = ["the", "a", "of", "and", "to"]

# BPE-ish tokenizer: word pieces OR single non-word non-space chars.
# Same regex class semantics in Java (Spark) and RE2 (DuckDB).
_BPE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


# ---------------------------------------------------------------------------
# Reusable column helpers (the library surface)
# ---------------------------------------------------------------------------


def chunk_starts(text: Column, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> Column:
    """0-based chunk start offsets: 0, size-overlap, 2*(size-overlap), …
    while start < len(text) — the reference's loop at neo4j_rag.py:94-118."""
    step = size - overlap
    return F.sequence(
        F.lit(0), F.greatest(F.length(text) - F.lit(1), F.lit(0)), F.lit(step)
    )


def word_count(text: Column) -> Column:
    """Whitespace token count (writer_agent.py word targets)."""
    return F.size(F.split(text, r"\s+"))


def bpe_token_count(text: Column) -> Column:
    """BPE-ish subword count via regexp (Spark 4 regexp_count, JVM-side)."""
    return F.regexp_count(text, F.lit(_BPE_REGEX))


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are stopwords."""
    toks = F.split(F.lower(text), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length band + stopword presence.

    Mirrors the shape of C4/Gopher-style quality rules: documents that
    are too short score low; a sane stopword ratio (natural language,
    not keyword spam) scores high.
    """
    n = F.length(text)
    length_component = F.least(n.cast("double") / F.lit(400.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_component = F.when((sw >= 0.05) & (sw <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    # identical IEEE op order on both engines -> bit-identical, no round
    return 0.6 * length_component + 0.4 * sw_component


def lang_guess(text: Column) -> Column:
    """'en' when the text holds the stopword marker "the ", else 'und'."""
    return F.when(text.contains("the ") | text.startswith("the "), "en").otherwise("und")


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed). md5 is engine-portable, so the
    oracle can reproduce it exactly; the production fast path is
    xxhash64 (same normalization, JVM hash)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


# unit -> (length function, the order-n gram starting at 1-based position i)
_NGRAM_UNITS = {
    "word": ("size", "concat_ws(' ', slice({col}, i, {n}))"),
    "char": ("length", "substring({col}, i, {n})"),
}


def grams_sql(col: str, n: int, unit: str = "word") -> str:
    """Spark-SQL ``array<string>``: the order-n grams of ``col`` in start
    order, the package's one n-gram builder. ``unit`` "word" reads
    ``col`` as a token array and joins each gram's tokens with ' ';
    "char" reads it as a string and takes substrings. Empty when ``col``
    is shorter than n, so ``sequence`` never runs descending. Positional
    callers ``posexplode`` it: a gram's 1-based start is pos + 1.

    ``col`` must name a column or a lambda variable (``bind_sql``): an
    expression in its place is re-evaluated for every gram."""
    length, gram = _NGRAM_UNITS[unit]
    return (
        f"CASE WHEN {length}({col}) >= {n} THEN "
        f"transform(sequence(1, {length}({col}) - {n} + 1), i -> {gram.format(col=col, n=n)}) "
        "ELSE cast(array() as array<string>) END"
    )


def bind_sql(var: str, value: str, body: str) -> str:
    """Spark-SQL ``body`` with lambda variable ``var`` bound ONCE per row
    to ``value`` (a one-element transform). Inlined instead, ``value``
    is re-evaluated at every use in ``body``, and inside a per-gram
    lambda once per gram."""
    return f"transform(array({value}), {var} -> {body})[0]"


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="v2_chunking",
    survey_ref="V2",
    doc="fixed-size chunking with overlap, 1000/200 (neo4j_rag.py:94-118) — "
    "posexplode(sequence) + substring, pure SQL.",
    oracle=f"""
        SELECT d.doc_id,
               CAST(t.start // {CHUNK_SIZE - CHUNK_OVERLAP} AS INT) AS chunk_idx,
               SUBSTR(d.text, t.start + 1, {CHUNK_SIZE}) AS chunk,
               CAST(LENGTH(SUBSTR(d.text, t.start + 1, {CHUNK_SIZE})) AS BIGINT) AS chunk_len
        FROM documents d,
             LATERAL (
                SELECT UNNEST(GENERATE_SERIES(0, GREATEST(LENGTH(d.text) - 1, 0), {CHUNK_SIZE - CHUNK_OVERLAP})) AS start
             ) t
    """,
)
def v2_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    chunk = F.substring(F.col("text"), F.col("start") + 1, CHUNK_SIZE)
    return (
        docs.select("doc_id", "text", F.posexplode(chunk_starts(F.col("text"))).alias("chunk_idx", "start"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            chunk.alias("chunk"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
        )
    )


@REGISTRY.register(
    name="v10_text_stats",
    survey_ref="V10",
    doc="report length / char & word counts (interactive_research_workflow.py:292, "
    "writer_agent.py:16-18) + in-band check against the n_chars golden column.",
    oracle="""
        SELECT doc_id,
               CAST(LENGTH(text) AS BIGINT) AS len_chars,
               CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS INT) AS n_words,
               (CAST(LENGTH(text) AS BIGINT) = n_chars) AS len_matches_golden
        FROM documents
    """,
)
def v10_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("len_chars"),
        word_count(F.col("text")).alias("n_words"),
        (F.length("text").cast("bigint") == F.col("n_chars")).alias("len_matches_golden"),
    )


@REGISTRY.register(
    name="t1_token_counting",
    survey_ref="V10/training-data",
    doc="token counting: whitespace tokens + BPE-ish regex pieces.",
    oracle=f"""
        SELECT doc_id,
               CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+')) AS INT) AS n_ws_tokens,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_REGEX}')) AS BIGINT) AS n_bpe_tokens
        FROM documents
    """,
)
def t1_token_counting(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        word_count(F.col("text")).alias("n_ws_tokens"),
        bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
    )


@REGISTRY.register(
    name="t2_quality_score",
    survey_ref="training-data",
    doc="quality scoring from length + stopword-ratio bands (C4-style).",
    oracle="""
        WITH scored AS (
            SELECT doc_id,
                   LENGTH(text) AS n,
                   CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                        t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                     / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1) AS sw_ratio
            FROM documents
        )
        SELECT doc_id,
               0.6 * LEAST(n / 400.0, 1.0)
                   + 0.4 * (CASE WHEN sw_ratio >= 0.05 AND sw_ratio <= 0.6
                                 THEN 1.0 ELSE 0.5 END) AS quality
        FROM scored
    """,
)
def t2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


@REGISTRY.register(
    name="t3_langid",
    survey_ref="training-data",
    doc="language-ID heuristic: stopword-marker scoring with declared-lang "
    "fallback; deterministic, oracle-expressible.",
    oracle="""
        SELECT doc_id, lang,
               CASE WHEN text LIKE '%the %' OR text LIKE 'the %' THEN 'en'
                    ELSE 'und' END AS lang_guess
        FROM documents
    """,
)
def t3_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", "lang", lang_guess(F.col("text")).alias("lang_guess"))


@REGISTRY.register(
    name="t4_fingerprint",
    survey_ref="training-data/V7",
    doc="document fingerprint: md5 over normalized text (portable); "
    "xxhash64 is the production fast path.",
    oracle="""
        SELECT doc_id,
               MD5(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    """,
)
def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@REGISTRY.register(
    name="f28_fuzzy_match",
    survey_ref="training-data (fuzzy dedup)",
    doc="edit-distance near-match pairs: 24-char text prefixes within "
    "levenshtein ≤ 4, blocked on (lang, 4-char prefix) so the join is "
    "an equi-join on a compact key — never a cross join; the DP cost "
    "is paid only inside blocks (the same blocking discipline as d2/d3).",
    oracle="""
        WITH p AS (
            SELECT doc_id, lang,
                   SUBSTR(text, 1, 24) AS pref, SUBSTR(text, 1, 4) AS blk
            FROM documents
        )
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(LEVENSHTEIN(a.pref, b.pref) AS INT) AS dist
        FROM p a JOIN p b
          ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE LEVENSHTEIN(a.pref, b.pref) <= 4
    """,
)
def f28_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    p = docs.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 24).alias("pref"),
        F.substring("text", 1, 4).alias("blk"),
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.pref"), F.col("b.pref"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(dist <= 4)
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"), dist.cast("int").alias("dist"))
    )


# ---------------------------------------------------------------------------
# T16: rolling-hash fingerprinting (Rabin-Karp k-grams + winnowing)
# ---------------------------------------------------------------------------

_RK_K = 5  # k-gram width (chars)
_RK_W = 4  # winnowing window (hashes)
_RK_B = 256  # polynomial base
_RK_P = 1000003  # modulus (prime)


@REGISTRY.register(
    name="t16_winnowing_fingerprint",
    survey_ref="training-data (rolling hash)",
    doc="winnowed Rabin-Karp fingerprints per document: polynomial "
    "rolling hash over char 5-grams, min-of-each-4-window (MOSS "
    "winnowing), distinct, one (doc_id, fingerprint) row per hash — "
    "the join-able shape for dedup use and a scalar-only output. The "
    "byte-level near-dup key — whitespace-robust where token "
    "pipelines (d3) aren't. Row-form via winnow_rows (windowed "
    "sliding min); the zero-shuffle array form is winnow_df.",
    oracle=f"""
        WITH chars AS (
            SELECT doc_id,
                   LIST_TRANSFORM(REGEXP_EXTRACT_ALL(text, '(?s).'),
                                  c -> CAST(UNICODE(c) AS BIGINT)) AS codes
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   LIST_TRANSFORM(RANGE(0, LEN(codes) - {_RK_K} + 1),
                       i -> ({" + ".join(f"codes[i + {j + 1}] * {_RK_B ** (_RK_K - 1 - j) % _RK_P}" for j in range(_RK_K))}) % {_RK_P}) AS hs
            FROM chars
        ), winnowed AS (
            SELECT doc_id,
                   LIST_DISTINCT(
                       LIST_TRANSFORM(RANGE(0, LEN(hs) - {_RK_W} + 1),
                                      i -> LIST_MIN(hs[i + 1 : i + {_RK_W}]))
                   ) AS fps
            FROM grams
        )
        SELECT doc_id, UNNEST(fps) AS fingerprint FROM winnowed
    """,
)
def t16_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_rows(load_table(spark, "documents", sf_dir))


def winnow_rows(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowed fingerprints as (id, fingerprint) ROWS.

    Same algorithm as ``winnow_df`` but expressed relationally: gram
    hashes posexplode to rows right after the (cheap, one-level) HOF
    that computes them, and the winnowing min-of-each-window becomes a
    sliding window frame over gram position — then distinct. NOT
    derived by exploding winnow_df's output: Catalyst collapses the
    deep nested-HOF projection chain into the Generate input and
    optimization/codegen on the duplicated tree takes minutes even on
    500 rows (measured; the array form alone runs in seconds).

    Cost model vs winnow_df: one shuffle keyed by doc (window
    partition) + one for distinct, on compact (long, long) gram rows;
    doc-bounded partitions, no hot keys. winnow_df stays the
    zero-shuffle choice when the array shape is acceptable."""
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(docs)
    powers = [_RK_B ** (_RK_K - 1 - j) % _RK_P for j in range(_RK_K)]
    with_codes = docs.select(
        id_col,
        F.transform(F.split(text_col, ""), lambda c: F.ascii(c).cast("long")).alias("codes"),
    ).where(F.size("codes") >= _RK_K)  # shorter docs have no k-gram (oracle: empty RANGE)

    def gram_hash(i):
        h = None
        for j, p in enumerate(powers):
            term = F.element_at(F.col("codes"), (i + F.lit(j + 1)).cast("int")) * F.lit(p)
            h = term if h is None else h + term
        return h % F.lit(_RK_P)

    grams = with_codes.select(
        id_col,
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.size("codes") - _RK_K), gram_hash)
        ).alias("pos", "h"),
    )
    from pyspark.sql import Window

    w_slide = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, _RK_W - 1)
    w_doc = Window.partitionBy(id_col)
    return (
        grams.withColumn("win_min", F.min("h").over(w_slide))
        .withColumn("n_grams", F.count("*").over(w_doc))
        .filter(F.col("pos") <= F.col("n_grams") - _RK_W)
        .select(id_col, F.col("win_min").alias("fingerprint"))
        .distinct()
    )


def winnow_df(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Winnowed Rabin-Karp fingerprint set per document (see the t16
    registration doc). Map-only; exact-integer arithmetic. The per-row
    char-level HOF work is heavy enough that the small-input fan-out
    pays 3× at sf0.1 (inert on a real multi-file corpus)."""
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(docs)
    powers = [_RK_B ** (_RK_K - 1 - j) % _RK_P for j in range(_RK_K)]
    with_codes = docs.select(
        id_col,
        F.transform(F.split(text_col, ""), lambda c: F.ascii(c).cast("long")).alias("codes"),
        # second reference to the same array via size() keeps the
        # projection from collapsing into downstream lambdas
        F.size(F.transform(F.split(text_col, ""), lambda c: F.ascii(c).cast("long"))).alias("n"),
    )

    def gram_hash(i):
        h = None
        for j, p in enumerate(powers):
            term = F.element_at(F.col("codes"), (i + F.lit(j + 1)).cast("int")) * F.lit(p)
            h = term if h is None else h + term
        return h % F.lit(_RK_P)

    grams = with_codes.select(
        id_col,
        F.transform(F.sequence(F.lit(0), F.col("n") - _RK_K), gram_hash).alias("hs"),
    )
    wins = grams.select(
        id_col,
        F.col("hs").alias("_hs"),
        F.size("hs").alias("_nh"),
    ).select(
        id_col,
        F.sort_array(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.col("_nh") - _RK_W),
                    lambda i: F.array_min(F.slice("_hs", (i + 1).cast("int"), _RK_W)),
                )
            )
        ).alias("fingerprints"),
    )
    return wins


@REGISTRY.register(
    name="t18_repetition",
    survey_ref="training-data (quality: repetition)",
    doc="within-document repetition signals (the Gopher-style quality "
    "gate the t2 band score doesn't see): duplicate-sentence fraction "
    "via array HOFs (map-only) and top-word dominance via word explode "
    "+ two partial-agg groupBys keyed by doc (uniform keys, compact "
    "rows). Docs that loop one sentence or one token score high on "
    "either ratio and get culled before training.",
    oracle="""
        WITH sents AS (
            SELECT doc_id,
                   LEN(STRING_SPLIT(text, '. ')) AS n_sents,
                   LEN(LIST_DISTINCT(STRING_SPLIT(text, '. '))) AS n_uniq
            FROM documents
        ), words AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents
        ), wc AS (
            SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
        ), dom AS (
            SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_words
            FROM wc GROUP BY doc_id
        )
        SELECT s.doc_id,
               CAST(s.n_sents AS BIGINT) AS n_sents,
               ROUND(1.0 - CAST(s.n_uniq AS DOUBLE) / s.n_sents, 4) AS dup_sent_ratio,
               ROUND(CAST(d.top_c AS DOUBLE) / d.n_words, 4) AS top_word_ratio
        FROM sents s JOIN dom d ON s.doc_id = d.doc_id
    """,
)
def t18_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sents = F.split("text", "\\. ")
    sent_stats = docs.select(
        "doc_id",
        F.size(sents).cast("bigint").alias("n_sents"),
        F.size(F.array_distinct(sents)).alias("n_uniq"),
    )
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    dom = wc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_words")
    )
    return sent_stats.join(dom, "doc_id").select(
        "doc_id",
        "n_sents",
        F.round(F.lit(1.0) - F.col("n_uniq").cast("double") / F.col("n_sents"), 4).alias(
            "dup_sent_ratio"
        ),
        F.round(F.col("top_c").cast("double") / F.col("n_words"), 4).alias("top_word_ratio"),
    )


_DECON_N = 8  # word n-gram width for contamination matching


@REGISTRY.register(
    name="t17_decontamination",
    survey_ref="training-data (decontamination)",
    doc="benchmark decontamination: flag training docs sharing any word "
    "8-gram with the held-out benchmark set before training. Benchmark "
    "= docs with doc_id%10=3, each salted with the full text of its "
    "doc_id+1 neighbor so contamination provably exists (every %10=4 "
    "doc must be flagged). The benchmark n-gram index is tiny next to "
    "the corpus → broadcast equi-join on the shingle; the corpus never "
    "shuffles. Output: per contaminated doc, how many distinct 8-grams "
    "hit and how many benchmark docs they touch.",
    oracle=f"""
        WITH bench_docs AS (
            SELECT b.doc_id, b.text || ' ' || c.text AS text
            FROM documents b JOIN documents c ON c.doc_id = b.doc_id + 1
            WHERE b.doc_id % 10 = 3
        ), bench_grams AS (
            SELECT DISTINCT doc_id AS bench_id, UNNEST(
                CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {_DECON_N} THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {_DECON_N - 1}),
                        i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + {_DECON_N - 1}], ' '))
                ELSE [] END) AS gram
            FROM bench_docs
        ), corpus_grams AS (
            SELECT DISTINCT doc_id, UNNEST(
                CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= {_DECON_N} THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')) - {_DECON_N - 1}),
                        i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i : i + {_DECON_N - 1}], ' '))
                ELSE [] END) AS gram
            FROM documents WHERE doc_id % 10 <> 3
        )
        SELECT c.doc_id,
               CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hit_grams,
               CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
        FROM corpus_grams c JOIN bench_grams b ON c.gram = b.gram
        GROUP BY c.doc_id
    """,
)
def t17_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontamination(load_table(spark, "documents", sf_dir))


def decontamination(docs: DataFrame) -> DataFrame:
    """t17's per-contaminated-doc rows; the prep cards anti-join them."""
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    bench_docs = (
        docs.filter(F.col("doc_id") % 10 == 3)
        .alias("b")
        .join(docs.alias("c"), F.col("c.doc_id") == F.col("b.doc_id") + 1)
        .select(
            F.col("b.doc_id").alias("bench_id"),
            F.split(F.concat(F.col("b.text"), F.lit(" "), F.col("c.text")), " ").alias("t"),
        )
    )
    bench_grams = bench_docs.selectExpr(
        "bench_id", f"explode({grams_sql('t', _DECON_N)}) AS gram"
    ).distinct()
    # NO pre-distinct on the corpus side: the final countDistinct
    # already collapses within-doc repeats, so the raw exploded grams
    # flow map-side into the broadcast join — the corpus is never
    # shuffled at its exploded width, only the post-join hits are.
    corpus_grams = (
        fan_out_small_input(docs.filter(F.col("doc_id") % 10 != 3))
        .selectExpr("doc_id", "split(text, ' ') AS t")
        .selectExpr("doc_id", f"explode({grams_sql('t', _DECON_N)}) AS gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_NUM_RE = r"[0-9]{4,}"


@REGISTRY.register(
    name="f29_pii_redaction",
    survey_ref="training-data (scrubbing)",
    doc="PII scrub before training: emails and long digit runs replaced "
    "with typed placeholders, with per-doc hit counts for audit. The "
    "corpus is deterministically salted with one planted email+number "
    "per doc_id%5==0 so the scrub provably fires; patterns are "
    "dialect-portable (same regex text in Spark and DuckDB). Map-only.",
    oracle=r"""
        WITH salted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com ref ' || CAST(doc_id * 7919 AS VARCHAR)
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               REGEXP_REPLACE(REGEXP_REPLACE(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                   '[0-9]{4,}', '<NUM>', 'g') AS redacted,
               CAST(LEN(REGEXP_EXTRACT_ALL(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[0-9]{4,}')) AS BIGINT) AS n_numbers
        FROM salted
    """,
)
def f29_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    salted = docs.select("doc_id", pii_salted(F.col("doc_id"), F.col("text")).alias("text"))
    return salted.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _NUM_RE, "<NUM>"
        ).alias("redacted"),
        n_matches(F.col("text"), _EMAIL_RE).alias("n_emails"),
        n_matches(F.col("text"), _NUM_RE).alias("n_numbers"),
    )


def pii_salted(doc_id: Column, text: Column) -> Column:
    """f29's planted PII: every 5th document gets an email address and a
    long number appended."""
    return F.when(
        doc_id % 5 == 0,
        F.concat(
            text,
            F.lit(" contact user"),
            doc_id.cast("string"),
            F.lit("@example.com ref "),
            (doc_id * 7919).cast("string"),
        ),
    ).otherwise(text)


def n_matches(text: Column, pattern: str) -> Column:
    """Number of non-overlapping matches of ``pattern`` in ``text``."""
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0)).cast("bigint")


@REGISTRY.register(
    name="t19_unigram_logprob",
    survey_ref="training-data (quality: LM perplexity proxy)",
    doc="CCNet-style language-model quality filter, unigram edition: "
    "build the corpus unigram frequency table (one word-keyed partial "
    "agg — vocab-sized output, broadcastable), broadcast-join it back "
    "onto the exploded words, and score each doc by its mean negative "
    "log-probability. High scores = rare-token soup (boilerplate, "
    "code dumps, gibberish); the standard pre-training cull signal "
    "when a real KenLM isn't in the loop. At 100 TB the freq table is "
    "top-K-capped with an UNK floor, keeping the join broadcast; the "
    "per-doc agg keys on doc_id (uniform).",
    oracle="""
        WITH words AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM documents
        ), freq AS (
            SELECT w, COUNT(*) AS c FROM words GROUP BY w
        ), tot AS (
            SELECT SUM(c) AS n FROM freq
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(-LN(CAST(c AS DOUBLE) / n)), 4) AS avg_neg_logprob
        FROM words JOIN freq USING (w) CROSS JOIN tot
        GROUP BY doc_id
    """,
)
def t19_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    # total corpus size as a literal-free 1-row broadcast (no collect)
    tot = freq.agg(F.sum("c").alias("n"))
    scored = words.join(F.broadcast(freq), "w").join(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.avg(-F.log(F.col("c").cast("double") / F.col("n"))), 4).alias(
            "avg_neg_logprob"
        ),
    )


_BOILER_N = 5  # word n-gram width for boilerplate detection
_BOILER_MIN_DOCS = 20  # shingle must appear in >= this many distinct docs


@REGISTRY.register(
    name="t20_boilerplate_ngrams",
    survey_ref="training-data (boilerplate detection)",
    doc="corpus-level boilerplate detector: word 5-gram shingles that "
    "recur across >= 20 distinct documents (headers, footers, license "
    "blurbs, nav chrome). Shingle explode is the heavy map stage "
    "(fanned out); the agg is countDistinct(doc_id) keyed by shingle "
    "with partial aggregation, then a selective HAVING — output is "
    "tiny (the boilerplate vocabulary), ready to broadcast back as a "
    "removal list. The d2/t17 shingle helper is reused so Spark and "
    "the oracle tokenize identically. The fixture corpus has no "
    "natural 5-gram shared by 20 docs (max is 3), so every 4th doc is "
    "deterministically salted with a footer blurb — the f29 pattern — "
    "so the detector provably fires at every SF.",
    oracle=f"""
        WITH salted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 0
                        THEN text || ' copyright footer all rights reserved contact site admin'
                        ELSE text END AS text
            FROM documents
        ), toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM salted
        ), sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST(CASE WHEN LEN(toks) >= {_BOILER_N} THEN
                       LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - {_BOILER_N - 1}),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                           || ' ' || toks[i+3] || ' ' || toks[i+4])
                   ELSE [] END) AS gram
            FROM toks
        )
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sh GROUP BY gram
        HAVING COUNT(*) >= {_BOILER_MIN_DOCS}
    """,
)
def t20_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    salted = docs.selectExpr(
        "doc_id",
        "split(CASE WHEN doc_id % 4 = 0 THEN text ||"
        " ' copyright footer all rights reserved contact site admin'"
        " ELSE text END, ' ') AS t",
    )
    grams = salted.selectExpr(
        "doc_id", f"explode({grams_sql('t', _BOILER_N)}) AS gram"
    ).distinct()
    return (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= _BOILER_MIN_DOCS)
    )


_BIGRAM_TOPK = 20


@REGISTRY.register(
    name="t21_bigram_merge_stats",
    survey_ref="training-data (tokenizer induction)",
    doc="the statistic a BPE/WordPiece merge step consumes: corpus-wide "
    "adjacent-token-pair frequencies, top-20 by count (ties broken by "
    "pair text for a total deterministic order). Pairs are the word "
    "2-grams (grams_sql) of the ONE bound token array (the r3 "
    "lambda-binding lesson: never re-split inside the lambda), so "
    "the map side is a single pass; the only shuffle is "
    "the partial-aggregated pair count and the top-k compiles to "
    "TakeOrderedAndProject — at 100 TB this is exactly a wordcount.",
    oracle=f"""
        WITH toks AS (
            SELECT STRING_SPLIT(text, ' ') AS t FROM documents
        ), pairs AS (
            SELECT UNNEST(
                CASE WHEN LEN(t) >= 2 THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])
                ELSE [] END) AS pair
            FROM toks
        )
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT {_BIGRAM_TOPK}
    """,
)
def t21_bigram_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    toks = docs.selectExpr("split(text, ' ') AS t")
    pairs = toks.selectExpr(f"explode({grams_sql('t', 2)}) AS pair")
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(_BIGRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# F30: unicode normalization / accent folding (Arrow UDF seam)
# ---------------------------------------------------------------------------

_F30_SALT = " Café naïve touché señor über Ångström"


def fold_accents_udf():
    """Vectorized NFC-normalize + accent-fold (NFD → drop combining
    marks → NFC). This is the one text operator Spark's built-ins
    genuinely can't express (no unicode-normalize function), so it is
    a pandas UDF by design — Arrow-batched, self-contained closure,
    map-only. DuckDB's utf8proc-backed strip_accents(nfc_normalize())
    replays it exactly for the Latin accent repertoire the fixture
    salt uses (parity asserted in tests for the salt characters)."""
    from pyspark.sql.functions import pandas_udf

    # no type hints: pandas is imported locally, so hint resolution
    # couldn't see `pd`; SCALAR eval type is the default (same pattern
    # as udf_surface.register_report_parser)
    def fold(s):
        import unicodedata

        def one(x):
            if x is None:
                return None
            nfd = unicodedata.normalize("NFD", x)
            stripped = "".join(c for c in nfd if unicodedata.category(c) != "Mn")
            return unicodedata.normalize("NFC", stripped)

        return s.map(one)

    return pandas_udf(fold, "string")


@REGISTRY.register(
    name="f30_unicode_fold",
    survey_ref="training-data (multilingual normalization)",
    doc="unicode NFC + accent folding over the corpus, salted with a "
    "deterministic non-ASCII suffix on doc_id%11==0 (the fixture text "
    "is ASCII, so the salt is what proves the fold fires). The fold "
    "is an Arrow-batched pandas UDF — the documented exception to the "
    "built-ins-only rule, since Spark has no unicode-normalize "
    "expression; map-only, no shuffle.",
    oracle=f"""
        WITH salted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0 THEN text || '{_F30_SALT}'
                        ELSE text END AS text
            FROM documents
        )
        SELECT doc_id,
               STRIP_ACCENTS(NFC_NORMALIZE(text)) AS folded,
               CAST(CASE WHEN STRIP_ACCENTS(NFC_NORMALIZE(text)) <> text
                         THEN 1 ELSE 0 END AS INT) AS changed
        FROM salted
    """,
)
def f30_unicode_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    salted = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.concat("text", F.lit(_F30_SALT)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    fold = fold_accents_udf()
    return salted.select(
        "doc_id",
        fold(F.col("text")).alias("folded"),
        F.when(fold(F.col("text")) != F.col("text"), 1).otherwise(0).cast("int").alias("changed"),
    )


# ---------------------------------------------------------------------------
# f31: GPT-style regex pretokenizer statistics
# ---------------------------------------------------------------------------

# the GPT-2 pretokenizer family, minus lookbehind (Java and RE2
# compatible): contractions | space?-letters | space?-digits |
# space?-punctuation-runs | stray apostrophe
_PRETOK_PAT = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9']+|'"


def pretokenize(text: Column) -> Column:
    """The BPE pre-tokenization split every GPT-family tokenizer runs
    before merges — whitespace-prefixed word/number/punct runs plus
    English contractions. Map-only regexp_extract_all; the SAME
    pattern string executes identically under Java regex (Spark) and
    RE2 (DuckDB) because it needs no lookbehind/backrefs — verified by
    the f31 oracle hash."""
    return F.regexp_extract_all(text, F.lit(_PRETOK_PAT), 0)


def lexical_terms(text: Column) -> Column:
    """Normalized lexical terms for retrieval scoring (t22 BM25, t23
    fusion): lowercase, then the SAME class-aware pretokenizer split
    f31 uses for BPE statistics, with the leading space each pretoken
    carries stripped. This is what makes 'Spark.' and 'spark' the same
    term — a bare split(' ') would count them apart (invisible on the
    fixture's 31-token vocab, wrong on real text). Map-only; DuckDB
    replay is LIST_TRANSFORM(REGEXP_EXTRACT_ALL(LOWER(..)), LTRIM)."""
    return F.transform(pretokenize(F.lower(text)), lambda x: F.ltrim(x))


def lexical_terms_sql(col: str) -> str:
    """The DuckDB twin of ``lexical_terms`` over column ``col``."""
    pat = _PRETOK_PAT.replace("'", "''")
    return f"LIST_TRANSFORM(REGEXP_EXTRACT_ALL(LOWER({col}), '{pat}'), x -> LTRIM(x))"


@REGISTRY.register(
    name="f31_pretokenize",
    survey_ref="F/t-family extra (BPE pre-tokenization)",
    doc="pretokenizer statistics per document: total pretokens and the "
    "word / numeric / contraction / punctuation class counts the "
    "GPT-2-style split produces — the exact row a tokenizer-training "
    "pipeline (t21's merge stats) consumes upstream of merges, and "
    "the token-budget estimator that beats whitespace counting on "
    "punctuation-heavy text. One regexp pass + array filters, "
    "map-only, zero shuffle beyond the final row.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   REGEXP_EXTRACT_ALL(text,
                       '{_PRETOK_PAT.replace("'", "''")}') AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(LEN(t) AS BIGINT) AS n_pretokens,
               CAST(LEN(LIST_FILTER(t, x -> REGEXP_MATCHES(x, '^ ?[A-Za-z]+$')))
                   AS BIGINT) AS n_word,
               CAST(LEN(LIST_FILTER(t, x -> REGEXP_MATCHES(x, '^ ?[0-9]+$')))
                   AS BIGINT) AS n_numeric,
               CAST(LEN(LIST_FILTER(t, x -> REGEXP_MATCHES(x, '^''')))
                   AS BIGINT) AS n_contraction
        FROM toks
    """,
)
def f31_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", pretokenize(F.col("text")).alias("t"))
    def count_class(pat: str) -> Column:
        return F.size(F.filter(F.col("t"), lambda x: x.rlike(pat))).cast("bigint")

    return toks.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_pretokens"),
        count_class("^ ?[A-Za-z]+$").alias("n_word"),
        count_class("^ ?[0-9]+$").alias("n_numeric"),
        count_class("^'").alias("n_contraction"),
    )


# ---------------------------------------------------------------------------
# f32: BPE merge application (2 unrolled rounds)
# ---------------------------------------------------------------------------

_BPE_JOIN = "<+>"  # display separator for merged sequences (not in vocab)


def _fold_merge(toks: Column, p1: Column, p2: Column) -> Column:
    """One BPE merge pass: rebuild the token sequence with every
    leftmost non-overlapping (p1, p2) adjacency fused into one token —
    a left fold (aggregate) whose accumulator is the merged prefix.
    Leftmost-first falls out of the fold order; non-overlap falls out
    of the fused token no longer equalling p1. Runs entirely in the
    JVM per row; at 100 TB this is a map-only pass per merge round."""
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == p1)
            & (x == p2),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(p1, F.lit(" "), p2)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _top_pair(seq_df: DataFrame, col: str) -> DataFrame:
    """(p1, p2) of the most frequent adjacent pair across all sequences
    in ``seq_df[col]`` — count DESC, then pair text, the deterministic
    tiebreak both engines share. One pair-count shuffle + top-1."""
    pairs = seq_df.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size({col}) - 1, 1)),"
                f" i -> struct(element_at({col}, i) as p1,"
                f" element_at({col}, i + 1) as p2))"
            )
        ).alias("pr")
    ).filter(F.col("pr.p2").isNotNull())
    return (
        pairs.groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "p1", "p2")
        .limit(1)
        .select("p1", "p2")
    )


def _bpe_fold_sql(src_seq: str, pair_cte: str) -> str:
    """DuckDB twin of one merge round over CTE column ``m`` of
    ``src_seq`` using the 1-row pair CTE ``pair_cte``."""
    return f"""
            SELECT s.doc_id,
                   list_reduce(
                       LIST_TRANSFORM(s.m, x -> [x]),
                       (acc, x) -> CASE
                           WHEN LEN(acc) > 0 AND acc[-1] = p.p1 AND x[1] = p.p2
                           THEN acc[1:LEN(acc) - 1] || [p.p1 || ' ' || p.p2]
                           ELSE acc || x END
                   ) AS m
            FROM {src_seq} s CROSS JOIN {pair_cte} p
    """


_BPE_PAIR_SQL = """
            SELECT m[i] AS p1, m[i + 1] AS p2, COUNT(*) AS c
            FROM {src} s, UNNEST(GENERATE_SERIES(1, GREATEST(LEN(s.m) - 1, 0))) u(i)
            GROUP BY 1, 2
            ORDER BY c DESC, p1, p2
            LIMIT 1
"""


@REGISTRY.register(
    name="f32_bpe_merge_apply",
    survey_ref="training-data (tokenizer induction: t21's consumer)",
    doc="BPE merge APPLICATION (Sennrich et al., ACL 2016) — the step t21's pair statistics feed: "
    "two unrolled merge rounds, each fusing the corpus-wide most "
    "frequent adjacent pair (count desc, pair text as the shared "
    "tiebreak) into single tokens via a leftmost-non-overlapping left "
    "fold. Per doc: token counts after rounds 0/1/2 and the final "
    "merged sequence. The fold is a JVM aggregate() (map-only per "
    "round); each round adds ONE pair-count shuffle + a broadcast "
    "1-row pair — so R rounds at 100 TB cost R wordcounts, no corpus "
    "re-shuffles. The same fold spelled list_reduce in DuckDB makes "
    "the whole 2-round loop hash-oracled — fixed unrolls of "
    "data-dependent iteration, the g1/g2 discipline applied to "
    "tokenizer training.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS m FROM documents
        ), pair1 AS ({_BPE_PAIR_SQL.format(src="toks")}
        ), m1 AS ({_bpe_fold_sql("toks", "pair1")}
        ), pair2 AS ({_BPE_PAIR_SQL.format(src="m1")}
        ), m2 AS ({_bpe_fold_sql("m1", "pair2")}
        )
        SELECT t.doc_id,
               CAST(LEN(t.m) AS BIGINT) AS n_tokens_0,
               CAST(LEN(a.m) AS BIGINT) AS n_tokens_1,
               CAST(LEN(b.m) AS BIGINT) AS n_tokens_2,
               ARRAY_TO_STRING(b.m, '{_BPE_JOIN}') AS merged_seq
        FROM toks t JOIN m1 a ON t.doc_id = a.doc_id
        JOIN m2 b ON t.doc_id = b.doc_id
    """,
)
def f32_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # toks feeds pair1, m1 and the final join; m1 feeds pair2, m2 and
    # the final join — persist both or each merge round re-executes
    # the whole upstream chain (v32's fan-out lesson)
    toks = docs.select("doc_id", F.split("text", " ").alias("m")).transform(
        persist_once
    )
    pair1 = _top_pair(toks, "m")
    m1 = toks.crossJoin(F.broadcast(pair1)).select(
        "doc_id", _fold_merge(F.col("m"), F.col("p1"), F.col("p2")).alias("m")
    ).transform(persist_once)
    pair2 = _top_pair(m1, "m")
    m2 = m1.crossJoin(F.broadcast(pair2)).select(
        "doc_id", _fold_merge(F.col("m"), F.col("p1"), F.col("p2")).alias("m")
    )
    return (
        toks.select("doc_id", F.size("m").cast("bigint").alias("n_tokens_0"))
        .join(m1.select("doc_id", F.size("m").cast("bigint").alias("n_tokens_1")), "doc_id")
        .join(
            m2.select(
                "doc_id",
                F.size("m").cast("bigint").alias("n_tokens_2"),
                F.array_join("m", _BPE_JOIN).alias("merged_seq"),
            ),
            "doc_id",
        )
    )


# ---------------------------------------------------------------------------
# t48: Zipf power-law audit of the corpus token distribution
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t48_zipf_audit",
    survey_ref="training-data (corpus distribution audit)",
    doc="Zipf power-law audit: closed-form least-squares fit of "
    "ln(freq) on ln(rank) over the corpus token frequency table — "
    "natural corpora fit slope ~ -1 (Zipf's law); a synthetic or "
    "template-generated corpus shows up as a flat slope / poor R², "
    "so this is the generated-vs-organic smell test a data buyer "
    "runs first. t41's five-sum regression discipline: slope and R² "
    "are partial-aggregable sums, no solver, no driver math. The "
    "corpus reduces to ONE wordcount shuffle; the rank window orders "
    "only the vocab-sized table (31 rows on this fixture, bounded by "
    "vocabulary — not corpus — at 100 TB).",
    oracle="""
        WITH freq AS (
            SELECT tok, COUNT(*) AS f
            FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ), ranked AS (
            SELECT LN(ROW_NUMBER() OVER (ORDER BY f DESC, tok)) AS x,
                   LN(f) AS y
            FROM freq
        ), s AS (
            SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
            FROM ranked
        )
        SELECT CAST(n AS BIGINT) AS n_vocab,
               ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS zipf_slope,
               ROUND(POW(n*sxy - sx*sy, 2)
                     / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r_squared
        FROM s
    """,
)
def t48_zipf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("f"))
    )
    from pyspark.sql import Window as W

    ranked = freq.select(
        F.log(F.row_number().over(W.orderBy(F.desc("f"), F.asc("tok")))).alias("x"),
        F.log("f").alias("y"),
    )
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        n.cast("bigint").alias("n_vocab"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope"),
        F.round(
            F.pow(n * sxy - sx * sy, F.lit(2))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# f38: vocabulary coverage / OOV rate per document
# ---------------------------------------------------------------------------

_VOCAB_TOPK = 16  # fixture vocabulary is 31 tokens; top-16 leaves real OOV


@REGISTRY.register(
    name="f38_vocab_coverage",
    survey_ref="training-data (tokenizer vocabulary audit)",
    doc="per-document OOV rate against the corpus top-16 token "
    "vocabulary — the 'will my tokenizer fragment this corpus' audit "
    "run before committing a vocab: docs with high OOV explode into "
    "byte fallbacks and blow the token budget. Plan: ONE wordcount "
    "shuffle builds the vocab (vocab-sized table, top-k by freq with "
    "deterministic tie-break), broadcast to a doc-keyed token pass — "
    "the corpus never shuffles on tokens; at 100 TB the vocab table "
    "is the only thing that moves. Top-16 of the fixture's 31-token "
    "vocabulary guarantees a nonzero, varying OOV signal (the "
    "31-token quirk would make a realistic 32k vocab vacuous).",
    oracle=f"""
        WITH freq AS (
            SELECT tok, COUNT(*) AS f
            FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
            GROUP BY tok
        ), vocab AS (
            SELECT tok FROM freq ORDER BY f DESC, tok LIMIT {_VOCAB_TOPK}
        ), doc_toks AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE), 4) AS oov_rate
        FROM doc_toks d LEFT JOIN vocab v USING (tok)
        GROUP BY doc_id
    """,
)
def f38_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("f"))
        .withColumn("rn", F.row_number().over(W.orderBy(F.desc("f"), F.asc("tok"))))
        .filter(F.col("rn") <= _VOCAB_TOPK)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                / F.count("*").cast("double"),
                4,
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# f39: HTML tag stripping (web-corpus cleaning)
# ---------------------------------------------------------------------------

#: the SQL spelling of ``html_strip_col`` over `{col}` — shared
#: verbatim by f39's oracle and pipeline_web_ingest's, so the
#: composition can never drift from the part (the governance rule).
_HTML_STRIP_SQL = (
    "TRIM(REGEXP_REPLACE("
    "REPLACE(REPLACE(REPLACE(REPLACE(REPLACE("
    "REGEXP_REPLACE("
    "REGEXP_REPLACE({col}, '<!--.*?-->', '', 'g'),"
    " '<[^>]+>', ' ', 'g'),"
    " '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),"
    " '&quot;', '\"'), '&#39;', ''''),"
    " '\\s+', ' ', 'g'))"
)

#: the deterministic HTML shell planted around doc_id%4==0 rows (SQL)
_HTML_FRAME_SQL = (
    "CASE WHEN doc_id % 4 = 0 THEN "
    "'<html><body><h1>Doc ' || doc_id || '</h1><p>' || text || "
    "'</p><p>footer &amp; nav</p><!-- tracking --></body></html>' "
    "ELSE text END"
)


def html_strip_col(html: Column) -> Column:
    """f39's cleaning expression over any string column: strip
    comments, strip tags, decode the five core entities, collapse
    whitespace. Pure built-in column functions — map-only, no UDF."""
    no_comments = F.regexp_replace(html, "<!--.*?-->", "")
    no_tags = F.regexp_replace(no_comments, "<[^>]+>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(
                    F.replace(no_tags, F.lit("&amp;"), F.lit("&")),
                    F.lit("&lt;"),
                    F.lit("<"),
                ),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&quot;"),
            F.lit('"'),
        ),
        F.lit("&#39;"),
        F.lit("'"),
    )
    return F.trim(F.regexp_replace(decoded, r"\s+", " "))


def html_frame_col() -> Column:
    """The planted HTML shell over (doc_id, text) — f39/pipeline share it."""
    frame = F.concat(
        F.lit("<html><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><p>footer &amp; nav</p><!-- tracking --></body></html>"),
    )
    return F.when(F.col("doc_id") % 4 == 0, frame).otherwise(F.col("text"))


@REGISTRY.register(
    name="f39_html_strip",
    survey_ref="training-data (web-corpus cleaning); F-family",
    doc="HTML → text cleaning, the first pass of every web-scrape "
    "pipeline: strip comments, strip tags, decode the five core "
    "entities, collapse whitespace. Docs with doc_id%4==0 are framed "
    "in a deterministic HTML shell (headline, paragraph tags, an "
    "entity-bearing footer, a tracking comment — t20's salting "
    "pattern), and the op must recover EXACTLY original-text + "
    "' footer & nav' for framed rows and the identity for the rest — "
    "the round-trip invariant is computed IN-QUERY as the `recovered` "
    "column, so the oracle hash-checks the cleaner's correctness, not "
    "just its output shape. All regexp/CASE column work, map-only, "
    "dialect-safe patterns (no lookbehind — f31's rule).",
    oracle=f"""
        WITH framed AS (
            SELECT doc_id, text,
                   doc_id % 4 = 0 AS was_framed,
                   {_HTML_FRAME_SQL} AS html
            FROM documents
        ), stripped AS (
            SELECT doc_id, text, was_framed,
                   CAST(LEN(REGEXP_EXTRACT_ALL(html, '<[^>]+>')) AS INT) AS n_tags,
                   {_HTML_STRIP_SQL.format(col="html")} AS cleaned
            FROM framed
        )
        SELECT doc_id, was_framed, n_tags,
               CAST(LENGTH(cleaned) AS BIGINT) AS clean_len,
               cleaned = CASE WHEN was_framed
                              THEN 'Doc ' || doc_id || ' ' || text || ' footer & nav'
                              ELSE text END AS recovered
        FROM stripped
    """,
)
def f39_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    framed = docs.select(
        "doc_id",
        "text",
        (F.col("doc_id") % 4 == 0).alias("was_framed"),
        html_frame_col().alias("html"),
    )
    cleaned = html_strip_col(F.col("html"))
    expected = F.when(
        F.col("was_framed"),
        F.concat(
            F.lit("Doc "),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
            F.lit(" footer & nav"),
        ),
    ).otherwise(F.col("text"))
    return framed.select(
        "doc_id",
        "was_framed",
        F.size(F.regexp_extract_all(F.col("html"), F.lit("<[^>]+>"), F.lit(0)))
        .cast("int")
        .alias("n_tags"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
        (cleaned == expected).alias("recovered"),
    )


# ---------------------------------------------------------------------------
# f41: URL canonicalization (the web-dedup prerequisite)
# ---------------------------------------------------------------------------

#: SQL spelling of ``url_normalize_col`` over `{col}` — shared by
#: f41's oracle and d19's so the dedup key can never drift from the
#: normalizer (the composition rule).
_URL_NORM_SQL = (
    "(SELECT hostpart || REGEXP_REPLACE(path, '/$', '')"
    " || CASE WHEN query = '' THEN ''"
    " ELSE '?' || ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(query, '&')), '&') END"
    " FROM (SELECT"
    " REGEXP_REPLACE(LOWER(REGEXP_EXTRACT(no_frag, '^[^/]+//[^/?]+')), ':80$', '')"
    " AS hostpart,"
    " REGEXP_REPLACE(REGEXP_REPLACE(no_frag, '^[^/]+//[^/?]+', ''), '\\?.*$', '')"
    " AS path,"
    " CASE WHEN no_frag LIKE '%?%'"
    " THEN REGEXP_REPLACE(no_frag, '^[^?]*\\?', '') ELSE '' END AS query"
    " FROM (SELECT REGEXP_REPLACE({col}, '#.*$', '') AS no_frag)))"
)


def url_normalize_col(url: Column) -> Column:
    """f41's canonicalization over any URL column: lowercase
    scheme+host, strip the default port, drop the fragment, strip the
    trailing path slash, sort query parameters. Pure string/regexp/
    array built-ins — map-only."""
    no_frag = F.regexp_replace(url, "#.*$", "")
    hostpart = F.regexp_replace(
        F.lower(F.regexp_extract(no_frag, "^[^/]+//[^/?]+", 0)), ":80$", ""
    )
    path = F.regexp_replace(
        F.regexp_replace(no_frag, "^[^/]+//[^/?]+", ""), r"\?.*$", ""
    )
    query = F.when(
        no_frag.contains("?"), F.regexp_replace(no_frag, r"^[^?]*\?", "")
    ).otherwise(F.lit(""))
    return F.concat(
        hostpart,
        F.regexp_replace(path, "/$", ""),
        F.when(query == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(query, "&")), "&"))
        ),
    )


@REGISTRY.register(
    name="f41_url_normalize",
    survey_ref="training-data (web-corpus keying); f39's URL sibling",
    doc="URL canonicalization, the step BEFORE any URL-keyed dedup or "
    "crawl-frontier join: lowercase scheme+host, strip the default "
    "port, drop the fragment, strip the trailing path slash, sort "
    "query parameters. Every doc synthesizes a deliberately messy URL "
    "(uppercase scheme/host, :80, unsorted params, fragment — the "
    "planting pattern), and `ok` compares the normalized form against "
    "the independently-built canonical string IN-QUERY, so the oracle "
    "hash-checks the normalizer's correctness on every row. Pure "
    "string/regexp/array built-ins, map-only; at 100 TB this keys the "
    "URL-dedup shuffle, so canonical-form stability IS the dedup's "
    "recall.",
    oracle="""
        WITH raw AS (
            SELECT doc_id, source,
                   'HTTP://WWW.' || UPPER(source) || '.COM:80/docs/' || doc_id
                       || '/?b=2&a=1#frag' AS url
            FROM documents
        ), parts AS (
            SELECT doc_id, source,
                   REGEXP_REPLACE(url, '#.*$', '') AS no_frag
            FROM raw
        ), pieces AS (
            SELECT doc_id, source,
                   REGEXP_REPLACE(LOWER(REGEXP_EXTRACT(no_frag, '^[^/]+//[^/?]+')),
                                  ':80$', '') AS hostpart,
                   REGEXP_REPLACE(
                       REGEXP_REPLACE(no_frag, '^[^/]+//[^/?]+', ''),
                       '\\?.*$', '') AS path,
                   CASE WHEN no_frag LIKE '%?%'
                        THEN REGEXP_REPLACE(no_frag, '^[^?]*\\?', '')
                        ELSE '' END AS query
            FROM parts
        ), built AS (
            SELECT doc_id, source,
                   hostpart || REGEXP_REPLACE(path, '/$', '')
                   || CASE WHEN query = '' THEN ''
                           ELSE '?' || ARRAY_TO_STRING(
                               LIST_SORT(STRING_SPLIT(query, '&')), '&') END
                       AS url_norm
            FROM pieces
        )
        SELECT doc_id, url_norm,
               url_norm = 'http://www.' || LOWER(source) || '.com/docs/'
                          || doc_id || '?a=1&b=2' AS ok
        FROM built
    """,
)
def f41_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    url = F.concat(
        F.lit("HTTP://WWW."),
        F.upper("source"),
        F.lit(".COM:80/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?b=2&a=1#frag"),
    )
    url_norm = url_normalize_col(url)
    expected = F.concat(
        F.lit("http://www."),
        F.lower("source"),
        F.lit(".com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?a=1&b=2"),
    )
    return docs.select(
        "doc_id",
        url_norm.alias("url_norm"),
        (url_norm == expected).alias("ok"),
    )


# ---------------------------------------------------------------------------
# t56: tokenizer fertility audit (cost/quality signal per source)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t56_tokenizer_fertility",
    survey_ref="training-data (tokenizer-fit audit; t1's corpus rollup)",
    doc="tokenizer fertility per source: chars-per-subword and "
    "subwords-per-whitespace-word (fertility) from t1's BPE-ish regex "
    "tokenizer, aggregated per source — THE cheap audit a multilingual "
    "mixture runs before committing a tokenizer (high fertility = the "
    "vocabulary fragments that source's text; cost per trained token "
    "scales with it). Pure map-side regexp_count + one tiny "
    "source-keyed partial agg; the corpus is scanned once and no "
    "token is ever materialized as a row.",
    oracle=f"""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEN(text)) AS BIGINT) AS n_chars,
               CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+'))) AS BIGINT) AS n_words,
               CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_REGEX}'))) AS BIGINT)
                   AS n_subwords,
               ROUND(SUM(LEN(text))
                     / CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_REGEX}'))) AS DOUBLE),
                     6) AS chars_per_subword,
               ROUND(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_REGEX}')))
                     / CAST(SUM(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\\s+'))) AS DOUBLE),
                     6) AS fertility
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
)
def t56_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select(
        "source",
        F.length("text").alias("nc"),
        F.size(F.split("text", r"\s+")).alias("nw"),
        bpe_token_count(F.col("text")).alias("nb"),
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("n_chars"),
            F.sum("nw").cast("bigint").alias("n_words"),
            F.sum("nb").cast("bigint").alias("n_subwords"),
        )
        .select(
            "source", "n_docs", "n_chars", "n_words", "n_subwords",
            F.round(F.col("n_chars") / F.col("n_subwords").cast("double"), 6).alias(
                "chars_per_subword"
            ),
            F.round(F.col("n_subwords") / F.col("n_words").cast("double"), 6).alias(
                "fertility"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# f42: mojibake detection + signature repair
# ---------------------------------------------------------------------------

# the classic UTF-8-read-as-Latin-1 signatures and their true chars
_MOJIBAKE_MAP = [
    ("\u00c3\u00a9", "\u00e9"),                    # 'A~(c)'  -> e-acute
    ("\u00c3\u00bc", "\u00fc"),                    # 'A~1/4'  -> u-umlaut
    ("\u00e2\u20ac\u2122", "\u2019"),             # 'a,!TM'  -> right quote
    ("\u00e2\u20ac\u0153", "\u201c"),             # 'a,!oe'  -> left dquote
]
_MOJIBAKE_RE = "|".join(m for m, _ in _MOJIBAKE_MAP)
_F42_SUFFIX = (
    " caf\u00c3\u00a9 \u00e2\u20ac\u0153quote\u00e2\u20ac\u2122"
    " m\u00c3\u00bcnchen"
)


def _f42_repair_sql(col: str) -> str:
    """Nested-REPLACE repair chain over ``col`` (oracle spelling built
    from the same signature table as the engine side)."""
    expr = col
    for moji, true_ch in _MOJIBAKE_MAP:
        expr = f"REPLACE({expr}, '{moji}', '{true_ch}')"
    return expr


@REGISTRY.register(
    name="f42_mojibake_repair",
    survey_ref="training-data (encoding-damage cleaning; f30's sibling)",
    doc="mojibake detection and signature repair: the classic "
    "UTF-8-decoded-as-Latin-1 byte signatures (A-tilde+copyright for "
    "e-acute, the a-circumflex+euro quote family) are planted "
    "in-query on doc_id%12==0 (a damaged suffix built from the "
    "signature table itself), detected with one regexp count, and "
    "repaired by the inverse replacement chain - the ftfy-lite pass "
    "every web-crawl pipeline runs before tokenization (mojibake "
    "inflates subword fertility and poisons dedup signatures). Output "
    "= affected docs with marker count and a repaired_clean proof "
    "column (post-repair marker count == 0, computed in-query). Pure "
    "map-side string expressions; no shuffle beyond the output sort. "
    "Both sides build the regex and the repair chain from ONE "
    "signature table so detector and fixer can never drift.",
    oracle=f"""
        WITH damaged AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 12 = 0
                        THEN text || '{_F42_SUFFIX}'
                        ELSE text END AS text
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_MOJIBAKE_RE}')) AS BIGINT)
                       AS n_markers,
                   {_f42_repair_sql("text")} AS repaired
            FROM damaged
        )
        SELECT doc_id, n_markers,
               LEN(REGEXP_EXTRACT_ALL(repaired, '{_MOJIBAKE_RE}')) = 0
                   AS repaired_clean
        FROM scored
        WHERE n_markers > 0
        ORDER BY doc_id
    """,
)
def f42_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    damaged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 12 == 0, F.concat("text", F.lit(_F42_SUFFIX)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    repaired = F.col("text")
    for moji, true_ch in _MOJIBAKE_MAP:
        repaired = F.replace(repaired, F.lit(moji), F.lit(true_ch))
    scored = damaged.select(
        "doc_id",
        F.regexp_count("text", F.lit(_MOJIBAKE_RE)).cast("bigint").alias("n_markers"),
        repaired.alias("repaired"),
    )
    return (
        scored.filter(F.col("n_markers") > 0)
        .select(
            "doc_id",
            "n_markers",
            (F.regexp_count("repaired", F.lit(_MOJIBAKE_RE)) == 0).alias(
                "repaired_clean"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t67: PMI collocations (t21 counts raw pairs; this scores association)
# ---------------------------------------------------------------------------

_PMI_TOPK = 20
_PMI_MIN_PAIR = 5  # pairs rarer than this have junk PMI estimates


@REGISTRY.register(
    name="t67_pmi_collocations",
    survey_ref="training-data (collocation mining); t21's scored layer",
    doc="pointwise-mutual-information collocations: adjacent token "
    "pairs (t21's word 2-grams — one bound array, never "
    "re-split in the lambda) scored PMI = ln(n_ab * N / (n_a * n_b)) "
    f"against unigram counts, min pair count {_PMI_MIN_PAIR}, top "
    f"{_PMI_TOPK} by PMI. Raw frequency (t21) surfaces 'of the'; PMI "
    "surfaces the MWEs a tokenizer should keep whole. Shuffles: one "
    "pair wordcount + one unigram wordcount, then two BROADCAST "
    "joins hang the unigram counts onto the (bounded, "
    "count-filtered) pair table — at 100 TB both sides are "
    "wordcounts and nothing else moves.",
    oracle=f"""
        WITH toks AS (
            SELECT STRING_SPLIT(text, ' ') AS t FROM documents
        ), uni AS (
            SELECT UNNEST(t) AS w FROM toks
        ), uni_n AS (
            SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w FROM uni GROUP BY w
        ), tot AS (
            SELECT CAST(SUM(n_w) AS DOUBLE) AS n FROM uni_n
        ), pairs AS (
            SELECT UNNEST(
                CASE WHEN LEN(t) >= 2 THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])
                ELSE [] END) AS pair
            FROM toks
        ), pair_n AS (
            SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM pairs GROUP BY pair
            HAVING COUNT(*) >= {_PMI_MIN_PAIR}
        ), scored AS (
            SELECT p.pair, p.n_ab,
                   ROUND(LN(p.n_ab * t.n /
                            (a.n_w * CAST(b.n_w AS DOUBLE))), 6) AS pmi
            FROM pair_n p
            JOIN uni_n a ON a.w = STRING_SPLIT(p.pair, ' ')[1]
            JOIN uni_n b ON b.w = STRING_SPLIT(p.pair, ' ')[2]
            CROSS JOIN tot t
        )
        SELECT pair, n_ab, pmi FROM scored
        ORDER BY pmi DESC, pair LIMIT {_PMI_TOPK}
    """,
)
def t67_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.split("text", " ").alias("t"))
    uni_n = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n_w"))
    )
    tot = uni_n.agg(F.sum("n_w").cast("double").alias("n"))
    pairs = toks.selectExpr(f"explode({grams_sql('t', 2)}) AS pair")
    pair_n = (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _PMI_MIN_PAIR)
        .withColumn("wa", F.split("pair", " ")[0])
        .withColumn("wb", F.split("pair", " ")[1])
    )
    ua = uni_n.select(F.col("w").alias("wa"), F.col("n_w").alias("na"))
    ub = uni_n.select(F.col("w").alias("wb"), F.col("n_w").alias("nb"))
    scored = (
        pair_n.join(F.broadcast(ua), "wa")
        .join(F.broadcast(ub), "wb")
        .crossJoin(F.broadcast(tot))
        .select(
            "pair",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab")
                    * F.col("n")
                    / (F.col("na") * F.col("nb").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "pair").limit(_PMI_TOPK)


# ---------------------------------------------------------------------------
# t68: skip-gram training pairs (word2vec prep)
# ---------------------------------------------------------------------------

_SKIPGRAM_WINDOW = 2
_SKIPGRAM_TOPK = 30


@REGISTRY.register(
    name="t68_skipgram_pairs",
    survey_ref="training-data (embedding pretraining prep); t21/t67 count "
    "ADJACENT pairs, this emits the windowed (center, context) "
    "co-occurrence a word2vec/SGNS trainer consumes",
    doc=f"skip-gram pair extraction with window ±{_SKIPGRAM_WINDOW}: "
    "for each token position, every neighbor within the window "
    "becomes a (center, context) pair; pair counts are the SGNS "
    "co-occurrence table (and, normalized, the input to GloVe's "
    "objective). Construction is a per-offset zip_with fan-out over "
    "the ONE bound token array — offset d pairs t[i] with t[i+d] — "
    f"so the map side is {_SKIPGRAM_WINDOW} array passes and "
    "the only shuffle is the (center, context)-keyed wordcount; "
    "symmetric pairs come from emitting both directions. Top "
    f"{_SKIPGRAM_TOPK} by count with total tie-break.",
    oracle=f"""
        WITH toks AS (
            SELECT STRING_SPLIT(text, ' ') AS t FROM documents
        ), offs AS (
            SELECT t, UNNEST(GENERATE_SERIES(1, {_SKIPGRAM_WINDOW})) AS d
            FROM toks
        ), fwd AS (
            SELECT UNNEST(
                CASE WHEN LEN(t) > d THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - d),
                                   i -> t[i] || ' ' || t[i + d])
                ELSE [] END) AS pair
            FROM offs
        ), both_dirs AS (
            SELECT STRING_SPLIT(pair, ' ')[1] AS center,
                   STRING_SPLIT(pair, ' ')[2] AS context FROM fwd
            UNION ALL
            SELECT STRING_SPLIT(pair, ' ')[2], STRING_SPLIT(pair, ' ')[1]
            FROM fwd
        )
        SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
        FROM both_dirs GROUP BY center, context
        ORDER BY n DESC, center, context LIMIT {_SKIPGRAM_TOPK}
    """,
)
def t68_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(F.split("text", " ").alias("t"))
    offs = toks.select(
        "t",
        F.explode(F.sequence(F.lit(1), F.lit(_SKIPGRAM_WINDOW))).alias("d"),
    )
    fwd = offs.select(
        F.explode(
            F.when(
                F.size("t") > F.col("d"),
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - F.col("d")),
                    F.slice(F.col("t"), F.col("d") + 1, F.size("t") - F.col("d")),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                ),
            ).otherwise(F.array())
        ).alias("p")
    )
    both = fwd.select(
        F.col("p.x").alias("center"), F.col("p.y").alias("context")
    ).unionAll(
        fwd.select(F.col("p.y").alias("center"), F.col("p.x").alias("context"))
    )
    return (
        both.groupBy("center", "context")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "center", "context")
        .limit(_SKIPGRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# t69: chi-squared discriminative terms per source (feature selection)
# ---------------------------------------------------------------------------

_CHI2_TOPK = 5
_CHI2_MIN_N = 5  # sparse cells make chi2 unstable; standard practice


@REGISTRY.register(
    name="t69_chi2_terms",
    survey_ref="training-data (feature selection / source signature); "
    "v15 ranks cluster terms by raw count, this ranks source terms "
    "by statistical association",
    doc=f"chi-squared discriminative terms: for each (source, term) "
    "with a 2x2 contingency (term in/out of source vs rest of "
    "corpus), the chi-squared statistic N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d)) "
    f"ranks the top {_CHI2_TOPK} terms that SIGNAL the source — the "
    "classifier-free source-signature audit (and the classic "
    "feature-selection step before training a source classifier). "
    "One (source, term) wordcount shuffle; per-term corpus totals "
    "derive from a second small agg broadcast back; the contingency "
    "arithmetic is map-side on the counts table and the per-source "
    "rank window runs over count-filtered vocab rows only.",
    oracle=f"""
        WITH toks AS (
            SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
            FROM documents
        ), st AS (
            SELECT source, term, CAST(COUNT(*) AS DOUBLE) AS n_st
            FROM toks GROUP BY source, term
        ), src_tot AS (
            SELECT source, SUM(n_st) AS n_s FROM st GROUP BY source
        ), term_tot AS (
            SELECT term, SUM(n_st) AS n_t FROM st GROUP BY term
        ), tot AS (
            SELECT SUM(n_st) AS n FROM st
        ), cont AS (
            SELECT s.source, s.term,
                   s.n_st AS a, tt.n_t - s.n_st AS b,
                   st2.n_s - s.n_st AS c,
                   t.n - tt.n_t - st2.n_s + s.n_st AS d,
                   t.n
            FROM st s
            JOIN src_tot st2 USING (source)
            JOIN term_tot tt USING (term)
            CROSS JOIN tot t
            WHERE s.n_st >= {_CHI2_MIN_N}
        ), scored AS (
            SELECT source, term, CAST(a AS BIGINT) AS n_in_source,
                   ROUND(n * (a * d - b * c) * (a * d - b * c) /
                         ((a + b) * (c + d) * (a + c) * (b + d)), 6) AS chi2,
                   CASE WHEN a * d > b * c THEN 1 ELSE 0 END AS enriched
            FROM cont
        ), ranked AS (
            SELECT source, term, n_in_source, chi2,
                   CAST(ROW_NUMBER() OVER (PARTITION BY source
                       ORDER BY chi2 DESC, term) AS INT) AS rank
            FROM scored WHERE enriched = 1
        )
        SELECT source, term, n_in_source, chi2, rank
        FROM ranked WHERE rank <= {_CHI2_TOPK}
        ORDER BY source, rank
    """,
)
def t69_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    st = toks.groupBy("source", "term").agg(
        F.count("*").cast("double").alias("n_st")
    )
    src_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    term_tot = st.groupBy("term").agg(F.sum("n_st").alias("n_t"))
    tot = st.agg(F.sum("n_st").alias("n"))
    cont = (
        st.filter(F.col("n_st") >= _CHI2_MIN_N)
        .join(F.broadcast(src_tot), "source")
        .join(term_tot, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "term",
            F.col("n_st").alias("a"),
            (F.col("n_t") - F.col("n_st")).alias("b"),
            (F.col("n_s") - F.col("n_st")).alias("c"),
            (F.col("n") - F.col("n_t") - F.col("n_s") + F.col("n_st")).alias("d"),
            "n",
        )
    )
    a, b, c, d = (F.col(x) for x in "abcd")
    scored = cont.select(
        "source",
        "term",
        a.cast("bigint").alias("n_in_source"),
        F.round(
            F.col("n")
            * (a * d - b * c)
            * (a * d - b * c)
            / ((a + b) * (c + d) * (a + c) * (b + d)),
            6,
        ).alias("chi2"),
        (a * d > b * c).alias("enriched"),
    ).filter("enriched")
    w = W.partitionBy("source").orderBy(F.desc("chi2"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _CHI2_TOPK)
        .select("source", "term", "n_in_source", "chi2", "rank")
        .orderBy("source", "rank")
    )


# ---------------------------------------------------------------------------
# t70: Jensen-Shannon divergence between source token distributions
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t70_js_divergence",
    survey_ref="training-data (corpus distance for mixture design); u23 "
    "weights docs toward a target — this MEASURES how far apart the "
    "sources already are",
    doc="pairwise Jensen-Shannon divergence between per-source unigram "
    "distributions: JSD(P,Q) = 0.5*KL(P||M) + 0.5*KL(Q||M), M = "
    "(P+Q)/2 — symmetric, bounded by ln 2, zero iff identical. The "
    "number a mixture designer reads before setting u10 weights "
    "(near-identical sources don't need separate quotas) and the "
    "drift metric between two crawls of the same source. ONE "
    "(source, term) wordcount shuffle builds every distribution; "
    "sources are enumerable, so each term folds its per-source "
    "counts into a map (r12) and the pair comparison is two "
    "element_at lookups against broadcast pair/total tables — "
    "join-free, nothing larger than vocab×sources ever shuffles; a "
    "one-sided term's KL branch is exact (p*ln 2) via the missing-"
    "key coalesce.",
    oracle="""
        WITH st AS (
            SELECT source, term, CAST(COUNT(*) AS DOUBLE) AS n
            FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
                  FROM documents)
            GROUP BY source, term
        ), dist AS (
            SELECT source, term,
                   n / SUM(n) OVER (PARTITION BY source) AS p
            FROM st
        ), srcs AS (
            SELECT DISTINCT source FROM dist
        ), src_pairs AS (
            SELECT a.source AS source_a, b.source AS source_b
            FROM srcs a JOIN srcs b ON a.source < b.source
        ), vocab AS (
            SELECT DISTINCT term FROM dist
        ), joined AS (
            SELECT sp.source_a, sp.source_b,
                   COALESCE(da.p, 0) AS p, COALESCE(db.p, 0) AS q
            FROM src_pairs sp
            CROSS JOIN vocab v
            LEFT JOIN dist da ON da.source = sp.source_a AND da.term = v.term
            LEFT JOIN dist db ON db.source = sp.source_b AND db.term = v.term
            WHERE COALESCE(da.p, 0) > 0 OR COALESCE(db.p, 0) > 0
        ), terms AS (
            SELECT source_a, source_b,
                   CASE WHEN p > 0 THEN 0.5 * p * LN(2.0 * p / (p + q))
                        ELSE 0 END
                 + CASE WHEN q > 0 THEN 0.5 * q * LN(2.0 * q / (p + q))
                        ELSE 0 END AS contrib
            FROM joined
        )
        SELECT source_a, source_b,
               ROUND(SUM(contrib), 6) AS jsd,
               ROUND(SUM(contrib) / LN(2.0), 6) AS jsd_normalized
        FROM terms
        GROUP BY source_a, source_b
        ORDER BY source_a, source_b
    """,
)
def t70_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return js_divergence(load_table(spark, "documents", sf_dir))


def js_divergence(docs: DataFrame) -> DataFrame:
    """t70's source-pair rows over ``docs``."""
    # r12 optimization (guide §2.4/§3): the former shape probed the
    # (vocab × src-pairs) frame with TWO (source, term)-keyed left
    # joins against the distribution table, plus a per-source window
    # and a vocab distinct — ~5 exchanges of vocab-scaled rows and two
    # joins. Sources are enumerable, so per TERM the whole comparison
    # folds into a map: one wordcount exchange, one vocab-sized
    # groupBy(term) collecting {source → n}, and both joins become
    # element_at() lookups against the broadcast pair/total tables —
    # join-free, nothing larger than vocab×sources ever shuffles.
    # p = n/tot is exact (integral doubles), identical to the former
    # window division.
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("double").alias("n"))
        .transform(persist_once)  # feeds totals, pairs and the term maps
    )
    tmap = (
        st.groupBy("source")
        .agg(F.sum("n").alias("tot"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("source", "tot"))).alias(
                "tm"
            )
        )
    )
    per_term = st.groupBy("term").agg(
        F.map_from_entries(F.collect_list(F.struct("source", "n"))).alias("m")
    )
    # the source pairs are generated from the broadcast totals map
    # itself (map-side array algebra) — no separate pair frame, no
    # second totals aggregation, one fewer broadcast
    pairs_expr = (
        "flatten(transform(map_keys(tm), a -> "
        "transform(filter(map_keys(tm), b -> a < b), "
        "b -> named_struct('source_a', a, 'source_b', b))))"
    )
    joined = (
        per_term.crossJoin(F.broadcast(tmap))
        .select("m", "tm", F.explode(F.expr(pairs_expr)).alias("pr"))
        .select(
            F.col("pr.source_a").alias("source_a"),
            F.col("pr.source_b").alias("source_b"),
            (
                F.coalesce(F.element_at("m", F.col("pr.source_a")), F.lit(0.0))
                / F.element_at("tm", F.col("pr.source_a"))
            ).alias("p"),
            (
                F.coalesce(F.element_at("m", F.col("pr.source_b")), F.lit(0.0))
                / F.element_at("tm", F.col("pr.source_b"))
            ).alias("q"),
        )
        .filter((F.col("p") > 0) | (F.col("q") > 0))
    )
    contrib = F.when(
        F.col("p") > 0,
        0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))),
    ).otherwise(0.0) + F.when(
        F.col("q") > 0,
        0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q"))),
    ).otherwise(0.0)
    return (
        joined.select("source_a", "source_b", contrib.alias("c"))
        .groupBy("source_a", "source_b")
        .agg(
            F.round(F.sum("c"), 6).alias("jsd"),
            F.round(F.sum("c") / F.log(F.lit(2.0)), 6).alias("jsd_normalized"),
        )
        # r13: the output is the enumerable source-pair frame (≤ C(20,2)
        # rows at any SF) — a narrow coalesce + in-partition sort gives
        # the identical total order without rangepartitioning's sampling
        # job + exchange per timed run
        .coalesce(1)
        .sortWithinPartitions("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# f43: Unicode script profile (the pre-langid character census)
# ---------------------------------------------------------------------------

# planted mixed-script rows — the fixture corpus is pure ASCII Latin, so
# every non-Latin class would be vacuously zero without them (f42's
# planted-signature convention)
_F43_PLANTS = (
    (9_000_001, "данные таблица поток запрос слияние"),  # Cyrillic
    (9_000_002, "数据 表 流 查询 合并 排序 分区"),  # CJK
    (9_000_003, "42 7 365 1024 99 2048 512"),  # digit-heavy
)


@REGISTRY.register(
    name="f43_script_profile",
    survey_ref="training-data (multilingual triage); t3's langid "
    "heuristic assumes Latin text — this is the character census "
    "that routes non-Latin docs BEFORE a wordlist langid runs",
    doc="per-document Unicode script profile: counts of Latin, "
    "Cyrillic, CJK, digit and whitespace characters (other = "
    "remainder), each as a ratio of doc length, plus the dominant "
    "script with a fixed precedence tie-break. The fixture corpus "
    "is pure ASCII, so three mixed-script rows are PLANTED "
    "(Cyrillic / CJK / digit-heavy) and must each classify to their "
    "script — pinned by the oracle hash itself. Map-only regexp "
    "counts over the scan (count = length minus length-after-strip, "
    "one pass per class); at 100 TB this is the cheapest possible "
    "router in front of per-script tokenizers and langid models.",
    oracle=f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT * FROM (VALUES
                {", ".join(f"({i}, '{t}')" for i, t in _F43_PLANTS)}
            ) AS plants(doc_id, text)
        ), counted AS (
            SELECT doc_id,
                   CAST(LEN(text) AS BIGINT) AS n_chars,
                   CAST(LEN(text) - LEN(REGEXP_REPLACE(text, '[A-Za-z]', '', 'g'))
                       AS BIGINT) AS n_latin,
                   CAST(LEN(text) - LEN(REGEXP_REPLACE(text,
                       '[\\x{{0400}}-\\x{{04FF}}]', '', 'g')) AS BIGINT) AS n_cyrillic,
                   CAST(LEN(text) - LEN(REGEXP_REPLACE(text,
                       '[\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) AS BIGINT) AS n_cjk,
                   CAST(LEN(text) - LEN(REGEXP_REPLACE(text, '[0-9]', '', 'g'))
                       AS BIGINT) AS n_digit,
                   CAST(LEN(text) - LEN(REGEXP_REPLACE(text, '[ ]', '', 'g'))
                       AS BIGINT) AS n_space
            FROM corpus
        )
        SELECT doc_id, n_chars,
               ROUND(CAST(n_latin AS DOUBLE) / n_chars, 4) AS latin_ratio,
               ROUND(CAST(n_cyrillic AS DOUBLE) / n_chars, 4) AS cyrillic_ratio,
               ROUND(CAST(n_cjk AS DOUBLE) / n_chars, 4) AS cjk_ratio,
               ROUND(CAST(n_digit AS DOUBLE) / n_chars, 4) AS digit_ratio,
               CASE
                   WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
                        AND n_latin >= n_digit THEN 'latin'
                   WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_digit
                        THEN 'cyrillic'
                   WHEN n_cjk >= n_digit THEN 'cjk'
                   ELSE 'digit'
               END AS dominant
        FROM counted
    """,
)
def f43_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    # r12: 4 regexp passes per row serialize on the single-file fixture
    # scan — fan out (no-op at cluster file counts)
    docs = fan_out_small_input(
        load_table(spark, "documents", sf_dir).select("doc_id", "text")
    )
    plants = docs.sparkSession.createDataFrame(
        list(_F43_PLANTS), "doc_id bigint, text string"
    )
    corpus = docs.unionByName(plants)

    def n_class(pat: str) -> Column:
        return (
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).cast("bigint")

    counted = corpus.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_class("[A-Za-z]").alias("n_latin"),
        n_class("[Ѐ-ӿ]").alias("n_cyrillic"),
        n_class("[一-鿿]").alias("n_cjk"),
        n_class("[0-9]").alias("n_digit"),
    )
    nl, ncy, ncj, nd = (
        F.col("n_latin"),
        F.col("n_cyrillic"),
        F.col("n_cjk"),
        F.col("n_digit"),
    )
    dominant = (
        F.when((nl >= ncy) & (nl >= ncj) & (nl >= nd), "latin")
        .when((ncy >= ncj) & (ncy >= nd), "cyrillic")
        .when(ncj >= nd, "cjk")
        .otherwise("digit")
    )
    return counted.select(
        "doc_id",
        "n_chars",
        F.round(nl.cast("double") / F.col("n_chars"), 4).alias("latin_ratio"),
        F.round(ncy.cast("double") / F.col("n_chars"), 4).alias("cyrillic_ratio"),
        F.round(ncj.cast("double") / F.col("n_chars"), 4).alias("cjk_ratio"),
        F.round(nd.cast("double") / F.col("n_chars"), 4).alias("digit_ratio"),
        dominant.alias("dominant"),
    )


# ---------------------------------------------------------------------------
# f44: readability scoring (Flesch / Flesch-Kincaid)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="f44_readability",
    survey_ref="training-data (quality scoring); t2 scores lexical "
    "quality — this is the century-old readability formula a "
    "curation pipeline bands documents with",
    doc="Flesch reading-ease and Flesch-Kincaid grade per document: "
    "words from the whitespace split, sentences as [.!?]+ runs "
    "(GREATEST(1, n) — the fixture corpus is punctuation-free, so "
    "every doc is one sentence and the words-per-sentence term "
    "equals doc length; the syllable term still varies per doc), "
    "syllables approximated as [aeiouy]+ vowel runs (the standard "
    "heuristic). flesch = 206.835 - 1.015*(W/S) - 84.6*(Syl/W); "
    "fk_grade = 0.39*(W/S) + 11.8*(Syl/W) - 15.59; banded "
    "easy/medium/hard at 60/30. Map-only regexp counts over the "
    "scan — composes with t2/u20 as another per-doc quality column "
    "feeding mixture/curation decisions.",
    oracle="""
        WITH counted AS (
            SELECT doc_id,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS w,
                   CAST(GREATEST(1, LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')))
                       AS DOUBLE) AS s,
                   CAST(LEN(REGEXP_EXTRACT_ALL(text, '[aeiouy]+')) AS DOUBLE)
                       AS syl
            FROM documents
        ), scored AS (
            SELECT doc_id, CAST(w AS BIGINT) AS n_words,
                   CAST(s AS BIGINT) AS n_sentences,
                   CAST(syl AS BIGINT) AS n_syllables,
                   ROUND(206.835 - 1.015 * (w / s) - 84.6 * (syl / w), 4)
                       AS flesch,
                   ROUND(0.39 * (w / s) + 11.8 * (syl / w) - 15.59, 4)
                       AS fk_grade
            FROM counted
        )
        SELECT doc_id, n_words, n_sentences, n_syllables, flesch, fk_grade,
               CASE WHEN flesch >= 60 THEN 'easy'
                    WHEN flesch >= 30 THEN 'medium'
                    ELSE 'hard' END AS band
        FROM scored
    """,
)
def f44_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("double").alias("w"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), F.lit(0))),
        )
        .cast("double")
        .alias("s"),
        F.size(F.regexp_extract_all("text", F.lit("[aeiouy]+"), F.lit(0)))
        .cast("double")
        .alias("syl"),
    )
    flesch = F.round(
        206.835 - 1.015 * (F.col("w") / F.col("s")) - 84.6 * (F.col("syl") / F.col("w")),
        4,
    )
    fk = F.round(
        0.39 * (F.col("w") / F.col("s")) + 11.8 * (F.col("syl") / F.col("w")) - 15.59,
        4,
    )
    scored = counted.select(
        "doc_id",
        F.col("w").cast("bigint").alias("n_words"),
        F.col("s").cast("bigint").alias("n_sentences"),
        F.col("syl").cast("bigint").alias("n_syllables"),
        flesch.alias("flesch"),
        fk.alias("fk_grade"),
    )
    return scored.select(
        "*",
        F.when(F.col("flesch") >= 60, "easy")
        .when(F.col("flesch") >= 30, "medium")
        .otherwise("hard")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# f47: token-budget chunking (v2 chunks by chars; embedders budget tokens)
# ---------------------------------------------------------------------------

_F47_CHUNK_TOKENS = 32
_F47_OVERLAP = 8
_F47_STRIDE = _F47_CHUNK_TOKENS - _F47_OVERLAP


@REGISTRY.register(
    name="f47_token_chunks",
    survey_ref="training-data / RAG prep (V2's token-budget sibling): "
    "embedding models enforce TOKEN limits, so a char chunker (v2) "
    "can still overflow them",
    doc=f"token-aware chunking: each document's token array splits "
    f"into windows of {_F47_CHUNK_TOKENS} tokens with "
    f"{_F47_OVERLAP}-token overlap (stride {_F47_STRIDE}); every "
    "token index lands in ≥1 chunk by construction, and no chunk "
    "exceeds the budget — the two guarantees v2's char windows "
    "can't make for a tokenizer. One bound token array per row, "
    "start offsets from a sequence fan-out, slices re-joined "
    "map-side — zero shuffle; chunk counts amplify rows by "
    "~len/stride exactly like v2's plan.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), starts AS (
            SELECT doc_id, t,
                   UNNEST(GENERATE_SERIES(1, GREATEST(LEN(t), 1),
                                          {_F47_STRIDE})) AS s
            FROM toks
        ), chunks AS (
            SELECT doc_id,
                   CAST((s - 1) / {_F47_STRIDE} AS INT) AS chunk_idx,
                   t[s:(s + {_F47_CHUNK_TOKENS} - 1)] AS c
            FROM starts
        )
        SELECT doc_id, chunk_idx,
               CAST(LEN(c) AS INT) AS n_tokens,
               ARRAY_TO_STRING(c, ' ') AS chunk_text
        FROM chunks WHERE LEN(c) > 0
        ORDER BY doc_id, chunk_idx
    """,
)
def f47_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(_F47_STRIDE)
            )
        ).alias("s"),
    )
    chunks = starts.select(
        "doc_id",
        ((F.col("s") - 1) / _F47_STRIDE).cast("int").alias("chunk_idx"),
        F.slice("t", F.col("s"), _F47_CHUNK_TOKENS).alias("c"),
    )
    return (
        chunks.filter(F.size("c") > 0)
        .select(
            "doc_id",
            "chunk_idx",
            F.size("c").cast("int").alias("n_tokens"),
            F.array_join("c", " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# t77: bigram LM perplexity (the KenLM-style quality filter, exact)
# ---------------------------------------------------------------------------

_T77_LAMBDA = 0.75  # bigram weight; 1-λ backs off to unigram


@REGISTRY.register(
    name="t77_bigram_perplexity",
    survey_ref="training-data (LM-based quality filtering); t19 scores "
    "unigram surprisal — interpolation with bigrams is what actual "
    "perplexity filters (CCNet's KenLM) run",
    doc="per-document perplexity under an interpolated bigram LM "
    f"trained on the corpus itself: p(w2|w1) = {_T77_LAMBDA}·"
    f"c(w1w2)/c(w1) + {1 - _T77_LAMBDA:.2f}·c(w2)/N, averaged "
    "log-prob over each doc's adjacent pairs, ppl = exp(−avg). LOW "
    "ppl = templated/repetitive (the corpus predicts it), HIGH = "
    "unusual — both tails get review in a CCNet-style pipeline. "
    "Shuffles: one pair wordcount + one unigram wordcount (t21/t67's "
    "tables); the unigram sides broadcast, while the bigram table "
    "joins pair-keyed — broadcast on this fixture, a plain "
    "equi-shuffle at web scale where the bigram vocab outgrows "
    "memory (real filters prune it to top-K first). One doc-keyed "
    "partial agg closes. The model is corpus-trained in the same "
    "plan that applies it — no side channel.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), uni AS (
            SELECT UNNEST(t) AS w FROM toks
        ), uni_n AS (
            SELECT w, CAST(COUNT(*) AS DOUBLE) AS n_w FROM uni GROUP BY w
        ), tot AS (
            SELECT SUM(n_w) AS n FROM uni_n
        ), doc_pairs AS (
            SELECT doc_id,
                   UNNEST(CASE WHEN LEN(t) >= 2 THEN
                       LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1),
                                      i -> t[i] || ' ' || t[i + 1])
                   ELSE [] END) AS pair
            FROM toks
        ), pair_n AS (
            SELECT pair, CAST(COUNT(*) AS DOUBLE) AS n_ab
            FROM doc_pairs GROUP BY pair
        ), scored AS (
            SELECT d.doc_id,
                   LN({_T77_LAMBDA} * p.n_ab / a.n_w
                      + {1 - _T77_LAMBDA} * b.n_w / t.n) AS lp
            FROM doc_pairs d
            JOIN pair_n p ON p.pair = d.pair
            JOIN uni_n a ON a.w = STRING_SPLIT(d.pair, ' ')[1]
            JOIN uni_n b ON b.w = STRING_SPLIT(d.pair, ' ')[2]
            CROSS JOIN tot t
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(lp), 6) AS avg_logprob,
               ROUND(EXP(-AVG(lp)), 4) AS ppl
        FROM scored GROUP BY doc_id
        ORDER BY doc_id
    """,
)
def t77_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    uni_n = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("double").alias("n_w"))
    )
    tot = uni_n.agg(F.sum("n_w").alias("n"))
    doc_pairs = toks.selectExpr("doc_id", f"explode({grams_sql('t', 2)}) AS pair")
    pair_n = doc_pairs.groupBy("pair").agg(
        F.count("*").cast("double").alias("n_ab")
    )
    wa = F.split("pair", " ")[0]
    wb = F.split("pair", " ")[1]
    sides = doc_pairs.withColumn("wa", wa).withColumn("wb", wb)
    ua = uni_n.select(F.col("w").alias("wa"), F.col("n_w").alias("na"))
    ub = uni_n.select(F.col("w").alias("wb"), F.col("n_w").alias("nb"))
    lp = F.log(
        F.lit(_T77_LAMBDA) * F.col("n_ab") / F.col("na")
        + F.lit(1 - _T77_LAMBDA) * F.col("nb") / F.col("n")
    )
    return (
        sides.join(F.broadcast(pair_n), "pair")
        .join(F.broadcast(ua), "wa")
        .join(F.broadcast(ub), "wb")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
            F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# t96: n-gram novelty over ingest order (the crawl-saturation curve)
# ---------------------------------------------------------------------------

_T96_N = 3
_T96_BUCKETS = 10


@REGISTRY.register(
    name="t96_ngram_novelty",
    survey_ref="training-data (crawl economics); t18 measures "
    "WITHIN-doc repetition and d10 removes cross-doc spans — this "
    "tracks how much NEW text each ingest slice still contributes, "
    "the curve that says when crawling stops paying",
    doc=f"{_T96_N}-gram novelty by ingest decile: each distinct gram's "
    "first occurrence is the minimum doc_id carrying it (doc_id = "
    "ingest order), docs bucket into ten ingest deciles, and per "
    "decile the novelty rate is the fraction of gram OCCURRENCES "
    "whose first-seen doc lies in that same decile — early slices "
    "are mostly novel, late slices mostly repeat what the corpus "
    "already said, and the decay rate prices continued crawling. "
    "One gram wordcount builds the first-seen table (min partial — "
    "same shuffle d2/t17 already pay for the gram relation); the "
    "per-decile rollup is a 10-key agg. At 100 TB first-seen is "
    "exactly the persisted dedup gram index with a MIN column.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ), grams AS (
            SELECT doc_id,
                   UNNEST(LIST_TRANSFORM(
                       GENERATE_SERIES(1, GREATEST(LEN(t) - {_T96_N - 1}, 0)),
                       i -> ARRAY_TO_STRING(t[i:(i + {_T96_N - 1})], ' ')))
                       AS gram
            FROM toks
        ), bounds AS (
            SELECT MIN(doc_id) AS lo, MAX(doc_id) + 1 AS hi FROM grams
        ), first_seen AS (
            SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
        ), tagged AS (
            SELECT LEAST({_T96_BUCKETS} - 1,
                       CAST(FLOOR(({_T96_BUCKETS}.0 * (g.doc_id - b.lo))
                                  / (b.hi - b.lo)) AS INT)) AS decile,
                   CASE WHEN f.first_doc = g.doc_id THEN 1.0 ELSE 0.0 END
                       AS novel
            FROM grams g
            JOIN first_seen f USING (gram)
            CROSS JOIN bounds b
        )
        SELECT CAST(decile AS INT) AS ingest_decile,
               CAST(COUNT(*) AS BIGINT) AS n_gram_occurrences,
               ROUND(AVG(novel), 4) AS novelty_rate
        FROM tagged GROUP BY decile ORDER BY ingest_decile
    """,
)
def t96_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.selectExpr(
        "doc_id", f"explode({grams_sql('t', _T96_N)}) AS gram"
    ).transform(persist_once)
    bounds = grams.agg(
        F.min("doc_id").alias("lo"), (F.max("doc_id") + 1).alias("hi")
    )
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    tagged = (
        grams.join(first_seen, "gram")
        .crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(_T96_BUCKETS - 1),
                F.floor(
                    _T96_BUCKETS
                    * (F.col("doc_id") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                ).cast("int"),
            ).alias("decile"),
            F.when(F.col("first_doc") == F.col("doc_id"), 1.0)
            .otherwise(0.0)
            .alias("novel"),
        )
    )
    return (
        tagged.groupBy(F.col("decile").cast("int").alias("ingest_decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_gram_occurrences"),
            F.round(F.avg("novel"), 4).alias("novelty_rate"),
        )
        .orderBy("ingest_decile")
    )


# ---------------------------------------------------------------------------
# T97: BPE merge LEARNING — the training loop t21 feeds and f32 applies
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_words_sql() -> str:
    """Word-type frequency table + char-delimited form, oracle side."""
    return r"""words AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok
                FROM documents WHERE doc_id % 5 = 0)
            WHERE tok <> '' GROUP BY tok
        ), w0 AS (
            SELECT '|' || REGEXP_REPLACE(tok, '(.)', '\1|', 'g') AS w, freq
            FROM words
        )"""


def _bpe_round_sql(k: int) -> str:
    """One unrolled BPE round: weighted adjacent-pair count over
    w{k-1} → deterministic top-1 (count desc, pair text) → REPLACE
    merge into w{k}."""
    return f"""p{k} AS (
            SELECT UNNEST(CASE WHEN LEN(s) >= 2 THEN
                LIST_TRANSFORM(GENERATE_SERIES(1, LEN(s) - 1),
                               i -> s[i] || '|' || s[i + 1])
            ELSE [] END) AS pair, freq
            FROM (SELECT LIST_FILTER(STR_SPLIT(w, '|'), x -> x <> '') AS s, freq
                  FROM w{k - 1})
        ), c{k} AS (
            SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM p{k} GROUP BY pair
        ), m{k} AS (
            SELECT STR_SPLIT(pair, '|')[1] AS l, STR_SPLIT(pair, '|')[2] AS r, cnt
            FROM c{k} ORDER BY cnt DESC, pair LIMIT 1
        ), w{k} AS (
            -- two REPLACE passes: the first consumes each match's
            -- trailing delimiter and so skips an immediately following
            -- occurrence; the second catches those blocked alternates
            SELECT REPLACE(REPLACE(w, '|' || m.l || '|' || m.r || '|',
                                   '|' || m.l || m.r || '|'),
                           '|' || m.l || '|' || m.r || '|',
                           '|' || m.l || m.r || '|') AS w, freq
            FROM w{k - 1}, m{k} m
        )"""


def _bpe_unroll(spark: SparkSession, sf_dir: str):
    """Shared BPE training loop: returns (w0, rounds) where w0 is the
    char-delimited word-frequency frame and rounds is, per round k,
    (the 1-row learned-merge frame with columns l/r/cnt, the
    post-merge word frame w{k}). t97 reads the merges; t99 also reads
    the word frames to price the corpus compression each merge buys."""
    from ai_iceberg_demo_spark.tables import fan_out_small_input

    docs = fan_out_small_input(
        load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 5 == 0)
    )
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    # each round's word frame feeds BOTH the pair-count argmax and the
    # next round's REPLACE pass (and t99 additionally sums tokens per
    # round) — persist at every round boundary or round k re-executes
    # rounds 1..k-1 per consumer (the r8 fanout_audit found t99's plan
    # scanning documents 26x). Frames are word-TYPE-sized, never corpus.
    wf = words.select(
        F.concat(F.lit("|"), F.regexp_replace("tok", "(.)", "$1|")).alias("w"),
        "freq",
    ).transform(persist_once)
    wf0 = wf
    rounds = []
    for _k in range(1, _BPE_ROUNDS + 1):
        syms = F.filter(F.split("w", r"\|"), lambda x: x != F.lit(""))
        pairs = wf.select(syms.alias("s"), "freq").select(
            F.explode(
                F.when(
                    F.size("s") >= 2,
                    F.zip_with(
                        F.slice(F.col("s"), 1, F.size("s") - 1),
                        F.slice(F.col("s"), 2, F.size("s") - 1),
                        lambda a, b: F.concat(a, F.lit("|"), b),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
            "freq",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .select(
                F.split("pair", r"\|")[0].alias("l"),
                F.split("pair", r"\|")[1].alias("r"),
                "cnt",
            )
        )
        search = F.concat(F.lit("|"), F.col("l"), F.lit("|"), F.col("r"), F.lit("|"))
        merged = F.concat(F.lit("|"), F.col("l"), F.col("r"), F.lit("|"))
        # two passes — see the oracle's w{k} comment
        wf = wf.crossJoin(F.broadcast(top)).select(
            F.replace(F.replace(F.col("w"), search, merged), search, merged).alias("w"),
            "freq",
        ).transform(persist_once)
        rounds.append((top, wf))
    return wf0, rounds


@REGISTRY.register(
    name="t97_bpe_train",
    bench=True,
    survey_ref="training-data (tokenizer induction: the LEARNING loop; "
    "t21 is one round's statistic, f32 applies the result)",
    doc=f"BPE merge learning, {_BPE_ROUNDS} rounds unrolled (the "
    "v11c/v12b iterative-algorithm discipline): word-TYPE frequency "
    "table (BPE trains on types weighted by corpus count, never the "
    "raw token stream), symbols as a '|'-delimited string, and per "
    "round one weighted adjacent-pair wordcount → deterministic top-1 "
    "(count desc, pair text asc) → merge applied via TWO passes of "
    "non-overlapping left-to-right REPLACE of '|l|r|' (pass 1 "
    "consumes each match's trailing delimiter and skips an immediately "
    "following occurrence; pass 2 catches those blocked alternates — "
    "identical semantics in the JVM and DuckDB, equal to reference "
    "left-to-right BPE except on ≥5-runs of a repeated symbol, where "
    "fewer merges may apply — property-tested in "
    "tests/test_properties.py; no fixture word repeats a character "
    "5x). Each round "
    "is one partial-aggregated shuffle over the TYPE table (vocab-"
    "sized, not corpus-sized) plus a broadcast of the 1-row merge — "
    "at 100 TB the word-type table is the classic distributed-BPE "
    "substrate. Output: the learned merge table (round, merge_left, "
    "merge_right, pair_count).",
    oracle="WITH "
    + _bpe_words_sql()
    + ", "
    + ", ".join(_bpe_round_sql(k) for k in range(1, _BPE_ROUNDS + 1))
    + """
        SELECT * FROM ("""
    + " UNION ALL ".join(
        f"SELECT {k} AS round, l AS merge_left, r AS merge_right, "
        f"cnt AS pair_count FROM m{k}"
        for k in range(1, _BPE_ROUNDS + 1)
    )
    + """)
        ORDER BY round
    """,
)
def t97_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    _w0, rounds = _bpe_unroll(spark, sf_dir)
    for k, (top, _wf) in enumerate(rounds, start=1):
        m = top.select(
            F.lit(k).alias("round"),
            F.col("l").alias("merge_left"),
            F.col("r").alias("merge_right"),
            F.col("cnt").alias("pair_count"),
        )
        out = m if out is None else out.unionByName(m)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Generation-eval substrate: the pair sample, n-grams, clipped overlap, BLEU-4
# (t98, t105, t106, t109, t111, t114 and pipeline_eval_card build on these)
# ---------------------------------------------------------------------------

_BLEU_MIN_WORDS = 12  # shortest 4-gram-able pair after 2/3 truncation
_FOOTER = ["near", "duplicate", "footer", "variant"]  # the planted candidate tail
_FOOTER_SQL = "array(" + ", ".join(f"'{t}'" for t in _FOOTER) + ")"
_VARIANT_SQL = "CASE WHEN doc_id % 20 = 0 THEN 'footer' ELSE 'truncated' END AS variant"


def eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) of every 10th document, hash-partitioned by doc_id
    once (fan_out_by_key). t98, t105 and t106 are doc_id-keyed to the
    end, so their gram aggregations stay partition-local and only these
    raw text rows ever shuffle. Not persisted: a persisted repartition
    hides its partitioning from the outer planner and the downstream
    exchanges come back, while unpersisted it is one exchange that
    AQE reuses across the metrics."""
    docs = load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
    return fan_out_by_key(docs.select("doc_id", "text"), "doc_id")


def eval_pairs(sample: DataFrame) -> DataFrame:
    """(doc_id, tr, tc): t105/t106's reference and candidate token
    arrays. doc_id % 20 == 0 gets the footer-extended candidate, the
    rest the first 2/3 of the reference. A doc under 12 words gets an
    empty reference, so clipped_overlap yields no row for it: a row
    filter here would be pushed below the sample's exchange and give
    t105 and t106 an exchange of their own."""
    toks = sample.selectExpr("doc_id", "split(text, ' ') AS w")
    return toks.selectExpr(
        "doc_id",
        f"CASE WHEN size(w) >= {_BLEU_MIN_WORDS} THEN w"
        " ELSE CAST(array() AS array<string>) END AS tr",
        f"CASE WHEN doc_id % 20 = 0 THEN concat(w, {_FOOTER_SQL})"
        " ELSE slice(w, 1, CAST(floor(2 * size(w) / 3) AS INT)) END AS tc",
    )


def ngrams_sql(col: str, orders, unit: str = "word") -> str:
    """Spark-SQL expression: the flattened array of (n, gram) structs of
    column ``col`` for every n in ``orders`` — one explode covers all
    orders instead of one scan per order. ``unit`` "word" reads ``col``
    as a token array and joins each gram's tokens with ' '; "char" reads
    it as a string and takes substrings (``grams_sql``)."""
    per_order = [
        f"transform({grams_sql(col, n, unit)}, g -> named_struct('n', {n}, 'gram', g))"
        for n in orders
    ]
    return "flatten(array(" + ", ".join(per_order) + "))"


def clipped_overlap(pairs: DataFrame, ref: str, cand: str) -> DataFrame:
    """(doc_id, n, m, r_total, c_total): per doc and n-gram order, the
    clipped multiset overlap m = Σ_gram min(ref count, cand count) and
    each side's gram total. ``ref`` and ``cand`` are SQL gram-struct
    arrays over ``pairs``' columns (ngrams_sql). Both sides explode
    side-tagged in one pass (rc = 1 ref, 0 cand) and one aggregation
    gives each gram's (rc, cc); Σ least(rc, cc) equals the ref ⋈ cand
    gram join, since a gram on one side only adds least(·, 0) = 0. When
    ``pairs`` is doc_id-partitioned both aggregations are partition-
    local. Only (doc, n) with grams on both sides are kept, the oracles'
    ref-total ⋈ cand-total. t105's oracle keys on the candidate total
    alone, but its references have ≥ 12 words and their candidates ≥ 8,
    so both totals are > 0 for every n ≤ 4 and its rows are the same."""
    tagged = (
        f"concat(transform({ref}, g -> named_struct('n', g.n, 'gram', g.gram, 'rc', 1)), "
        f"transform({cand}, g -> named_struct('n', g.n, 'gram', g.gram, 'rc', 0)))"
    )
    return (
        pairs.selectExpr("doc_id", f"inline({tagged})")
        .groupBy("doc_id", "n", "gram")
        .agg(F.expr("sum(rc) AS rc"), F.expr("count(*) - sum(rc) AS cc"))
        .groupBy("doc_id", "n")
        .agg(
            F.expr("sum(least(rc, cc)) AS m"),
            F.expr("sum(rc) AS r_total"),
            F.expr("sum(cc) AS c_total"),
        )
        .filter("r_total > 0 AND c_total > 0")
    )


def brevity_sql(c_len: str, r_len: str) -> str:
    """BLEU's brevity penalty: 1 for a candidate at least as long as its
    reference, else exp(1 − r/c)."""
    return (
        f"CASE WHEN {c_len} >= {r_len} THEN 1.0D "
        f"ELSE exp(1.0D - CAST({r_len} AS DOUBLE) / {c_len}) END"
    )


def bleu4_sql(c_len: str, r_len: str) -> str:
    """BLEU-4 from columns p1..p4: BP · (p1·p2·p3·p4)^(1/4), 0 when any
    precision is 0. The 4th root is sqrt(sqrt(·)), IEEE-exact on both
    engines where pow(x, 0.25) is libm-dependent."""
    prod = "p1 * p2 * p3 * p4"
    return (
        f"CASE WHEN {prod} > 0 THEN {brevity_sql(c_len, r_len)} * sqrt(sqrt({prod})) "
        "ELSE 0.0D END"
    )


def _p_wide() -> list[Column]:
    """p1..p4 pivoted from (n, p) rows."""
    return [F.expr(f"max(CASE WHEN n = {k} THEN p END) AS p{k}") for k in range(1, 5)]


# ---------------------------------------------------------------------------
# T98: ROUGE-2 — clipped bigram overlap P/R/F1 (generation eval)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t98_rouge2_eval",
    survey_ref="training-data (generation eval; t46/t47/t95's text-overlap sibling)",
    doc="ROUGE-2 per (reference, candidate) pair — clipped bigram "
    "overlap (Σ min(count_ref, count_cand), the multiset semantics "
    "real ROUGE uses, NOT distinct-set intersection), precision, "
    "recall, F1 rounded 6. Pairs planted in-query (reference = "
    "original doc, candidate = its footer-extended twin — d27's "
    "pattern), so expected recall ≈ 1 with precision < 1 and the "
    "metric's asymmetry is exercised, not just its plumbing. Shape "
    "(r12): ONE hash exchange of the raw pair rows by doc_id; both "
    "sides' bigrams explode side-tagged in one pass and every "
    "aggregate (per-gram clip Σ min(ref_c, cand_c), per-doc rollup) "
    "is partition-local — at 100 TB only raw text rows ever shuffle; "
    "the former gram equi-join is algebra inside one aggregation.",
    oracle="""
        WITH pairs AS (
            SELECT doc_id, text AS ref_text,
                   text || ' near duplicate footer variant' AS cand_text
            FROM documents WHERE doc_id % 10 = 0
        ), refg AS (
            SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, UNNEST(CASE WHEN LEN(w) >= 2 THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])
                ELSE [] END) AS gram
                FROM (SELECT doc_id, STRING_SPLIT(ref_text, ' ') AS w FROM pairs))
            GROUP BY 1, 2
        ), candg AS (
            SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, UNNEST(CASE WHEN LEN(w) >= 2 THEN
                    LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])
                ELSE [] END) AS gram
                FROM (SELECT doc_id, STRING_SPLIT(cand_text, ' ') AS w FROM pairs))
            GROUP BY 1, 2
        ), overlap AS (
            SELECT r.doc_id, SUM(LEAST(r.c, c.c)) AS clipped
            FROM refg r JOIN candg c ON r.doc_id = c.doc_id AND r.gram = c.gram
            GROUP BY 1
        ), totals AS (
            SELECT r.doc_id, rt.n_ref, ct.n_cand, COALESCE(o.clipped, 0) AS clipped
            FROM (SELECT DISTINCT doc_id FROM pairs) r
            JOIN (SELECT doc_id, SUM(c) AS n_ref FROM refg GROUP BY 1) rt USING (doc_id)
            JOIN (SELECT doc_id, SUM(c) AS n_cand FROM candg GROUP BY 1) ct USING (doc_id)
            LEFT JOIN overlap o USING (doc_id)
        )
        SELECT doc_id,
               CAST(clipped AS BIGINT) AS clipped_bigrams,
               ROUND(CAST(clipped AS DOUBLE) / n_cand, 6) AS rouge2_precision,
               ROUND(CAST(clipped AS DOUBLE) / n_ref, 6) AS rouge2_recall,
               ROUND(2.0 * clipped / (n_cand + n_ref), 6) AS rouge2_f1
        FROM totals
    """,
)
def t98_rouge2_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rouge2_scores(eval_sample(spark, sf_dir))


def rouge2_scores(sample: DataFrame) -> DataFrame:
    """t98 over eval_sample's rows: the reference is the document, the
    candidate the document plus the footer."""
    pairs = sample.selectExpr("doc_id", "split(text, ' ') AS tr").selectExpr(
        "doc_id", "tr", f"concat(tr, {_FOOTER_SQL}) AS tc"
    )
    ov = clipped_overlap(pairs, ngrams_sql("tr", (2,)), ngrams_sql("tc", (2,)))
    return ov.selectExpr(
        "doc_id",
        "CAST(m AS BIGINT) AS clipped_bigrams",
        "round(CAST(m AS DOUBLE) / c_total, 6) AS rouge2_precision",
        "round(CAST(m AS DOUBLE) / r_total, 6) AS rouge2_recall",
        "round(2.0D * m / (c_total + r_total), 6) AS rouge2_f1",
    )


# ---------------------------------------------------------------------------
# T105: BLEU-4 — clipped n-gram precision + brevity penalty (generation eval)
# ---------------------------------------------------------------------------

@REGISTRY.register(
    name="t105_bleu_eval",
    survey_ref="training-data (generation eval; t98 ROUGE-2's "
    "precision-oriented sibling — the other canonical overlap metric)",
    bench=True,  # r9 verdict #4: heavy eval plan, floored alongside d9b
    doc="BLEU-4 per (reference, candidate) pair: clipped modified "
    "n-gram precision for n = 1..4 (Σ min(count_ref, count_cand) / "
    "cand n-gram total — true multiset clipping, like t98), brevity "
    "penalty exp(1 − r/c) for short candidates, and "
    "BLEU = BP · (p1·p2·p3·p4)^(1/4) computed as sqrt(sqrt(·)) so the "
    "geometric mean is IEEE-exact on both engines (pow(x, 0.25) is "
    "libm-dependent; two sqrts are not). BOTH factors are exercised "
    "by construction: doc_id%20==0 pairs get the footer-extended "
    "candidate (precision < 1, BP = 1 — candidate longer), the rest "
    "get a 2/3-truncation candidate (every candidate n-gram is a "
    "reference n-gram, so p1..p4 = 1 exactly and BLEU = BP < 1). "
    "Pairs need ≥ 12 words so the truncated side still has 4-grams. "
    "Shape: ONE hash exchange of the raw sample rows by doc_id "
    "(eval_sample); a single side-tagged explode emits all four orders "
    "for BOTH sides, and per-gram clipping, per-(doc,n) precisions and "
    "the per-doc pivot, which also reads the lengths off the unigram "
    "totals, are all partition-local with no join — model-output "
    "scoring at 100 TB where only raw text rows ever shuffle, same "
    "discipline as t98.",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 20 = 0 THEN 'footer'
                        ELSE 'truncated' END AS variant,
                   text AS ref_text,
                   CASE WHEN doc_id % 20 = 0
                        THEN text || ' near duplicate footer variant'
                        ELSE ARRAY_TO_STRING(
                            (STRING_SPLIT(text, ' '))[1:(2 * LEN(STRING_SPLIT(text, ' '))) // 3],
                            ' ')
                   END AS cand_text
            FROM documents
            WHERE doc_id % 10 = 0
              AND LEN(STRING_SPLIT(text, ' ')) >= {_BLEU_MIN_WORDS}
        ), ns AS (SELECT UNNEST([1, 2, 3, 4]) AS n),
        refg AS (
            SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, n,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - n + 1),
                              i -> ARRAY_TO_STRING(w[i:i+n-1], ' '))) AS gram
                FROM (SELECT doc_id, STRING_SPLIT(ref_text, ' ') AS w FROM pairs), ns
                WHERE LEN(w) >= n)
            GROUP BY 1, 2, 3
        ), candg AS (
            SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, n,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - n + 1),
                              i -> ARRAY_TO_STRING(w[i:i+n-1], ' '))) AS gram
                FROM (SELECT doc_id, STRING_SPLIT(cand_text, ' ') AS w FROM pairs), ns
                WHERE LEN(w) >= n)
            GROUP BY 1, 2, 3
        ), clipped AS (
            SELECT r.doc_id, r.n, SUM(LEAST(r.c, c.c)) AS m
            FROM refg r JOIN candg c
              ON r.doc_id = c.doc_id AND r.n = c.n AND r.gram = c.gram
            GROUP BY 1, 2
        ), pn AS (
            SELECT t.doc_id, t.n,
                   CAST(COALESCE(cl.m, 0) AS DOUBLE) / t.total AS p
            FROM (SELECT doc_id, n, SUM(c) AS total FROM candg GROUP BY 1, 2) t
            LEFT JOIN clipped cl ON cl.doc_id = t.doc_id AND cl.n = t.n
        ), wide AS (
            SELECT doc_id,
                   MAX(CASE WHEN n = 1 THEN p END) AS p1,
                   MAX(CASE WHEN n = 2 THEN p END) AS p2,
                   MAX(CASE WHEN n = 3 THEN p END) AS p3,
                   MAX(CASE WHEN n = 4 THEN p END) AS p4
            FROM pn GROUP BY doc_id
        ), lens AS (
            SELECT doc_id, variant,
                   LEN(STRING_SPLIT(ref_text, ' ')) AS r_len,
                   LEN(STRING_SPLIT(cand_text, ' ')) AS c_len
            FROM pairs
        )
        SELECT l.doc_id, l.variant,
               ROUND(w.p1, 6) AS p1, ROUND(w.p2, 6) AS p2,
               ROUND(w.p3, 6) AS p3, ROUND(w.p4, 6) AS p4,
               ROUND(CASE WHEN l.c_len >= l.r_len THEN 1.0
                          ELSE EXP(1.0 - CAST(l.r_len AS DOUBLE) / l.c_len)
                     END, 6) AS brevity_penalty,
               ROUND(CASE WHEN w.p1 * w.p2 * w.p3 * w.p4 > 0 THEN
                          (CASE WHEN l.c_len >= l.r_len THEN 1.0
                                ELSE EXP(1.0 - CAST(l.r_len AS DOUBLE) / l.c_len)
                           END) * SQRT(SQRT(w.p1 * w.p2 * w.p3 * w.p4))
                          ELSE 0.0 END, 6) AS bleu4
        FROM lens l JOIN wide w USING (doc_id)
    """,
)
def t105_bleu_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bleu_scores(eval_pairs(eval_sample(spark, sf_dir)))


def bleu_scores(pairs: DataFrame) -> DataFrame:
    """t105 over eval_pairs' rows. The unigram totals are the token
    counts, so the lengths come out of the same aggregation as p1..p4
    and the variant from doc_id: one pass over the pairs, no join."""
    orders = range(1, 5)
    ov = clipped_overlap(pairs, ngrams_sql("tr", orders), ngrams_sql("tc", orders))
    per_doc = (
        ov.selectExpr("doc_id", "n", "CAST(m AS DOUBLE) / c_total AS p", "r_total", "c_total")
        .groupBy("doc_id")
        .agg(
            *_p_wide(),
            F.expr("max(CASE WHEN n = 1 THEN r_total END) AS r_len"),
            F.expr("max(CASE WHEN n = 1 THEN c_total END) AS c_len"),
        )
    )
    return per_doc.selectExpr(
        "doc_id",
        _VARIANT_SQL,
        *[f"round(p{k}, 6) AS p{k}" for k in orders],
        f"round({brevity_sql('c_len', 'r_len')}, 6) AS brevity_penalty",
        f"round({bleu4_sql('c_len', 'r_len')}, 6) AS bleu4",
    )


# ---------------------------------------------------------------------------
# T106: chrF — character n-gram F-score (the third canonical overlap metric)
# ---------------------------------------------------------------------------

_CHRF_MAX_N = 6  # chrF's standard character n-gram orders 1..6
_CHRF_BETA2 = 4.0  # beta = 2: recall weighted double (Popović 2015)


@REGISTRY.register(
    name="t106_chrf_eval",
    survey_ref="training-data (generation eval): chrF completes the "
    "canonical overlap-metric triple — t105 BLEU (word precision), "
    "t98 ROUGE-2 (word recall), chrF (character F) — the "
    "tokenization-robust metric morphologically rich evaluation "
    "defaults to",
    doc="chrF per (reference, candidate) pair (Popović, WMT 2015): "
    "character n-gram P_n/R_n for n = 1..6 over space-stripped text "
    "(true multiset clipping, t98's Σ min), averaged over orders, "
    "combined as F_beta with beta = 2 (recall weighted double). BOTH "
    "factor directions exercised by construction, the char-level "
    "mirror of t105's factor separation: footer candidates make the "
    "reference a char-prefix of the candidate (R_n = 1 exactly, "
    "P_n < 1), truncated candidates are char-prefixes of the "
    "reference (P_n = 1 exactly, R_n < 1) — a prefix's char-n-gram "
    "multiset is dominated by the full string's, so the equalities "
    "are exact, pinned per row. Shape: ONE hash exchange of the raw "
    "sample rows by doc_id (eval_sample); a single side-tagged explode "
    "emits all six orders for both sides and every gram/order/doc "
    "aggregate is partition-local — the former char-gram join (whose "
    "shuffle_hash build map OOMed at sf10 and had to be merge-"
    "pinned) is gone outright, and so is the output join.",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 20 = 0 THEN 'footer'
                        ELSE 'truncated' END AS variant,
                   REPLACE(text, ' ', '') AS ref_s,
                   CASE WHEN doc_id % 20 = 0
                        THEN REPLACE(text || ' near duplicate footer variant',
                                     ' ', '')
                        ELSE REPLACE(ARRAY_TO_STRING(
                            (STRING_SPLIT(text, ' '))[1:(2 * LEN(STRING_SPLIT(text, ' '))) // 3],
                            ' '), ' ', '')
                   END AS cand_s
            FROM documents
            WHERE doc_id % 10 = 0
              AND LEN(STRING_SPLIT(text, ' ')) >= {_BLEU_MIN_WORDS}
        ), ns AS (SELECT UNNEST(GENERATE_SERIES(1, {_CHRF_MAX_N})) AS n),
        refg AS (
            SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, n,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(ref_s) - n + 1),
                              i -> ref_s[i:i+n-1])) AS gram
                FROM pairs, ns WHERE LEN(ref_s) >= n)
            GROUP BY 1, 2, 3
        ), candg AS (
            SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, n,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(cand_s) - n + 1),
                              i -> cand_s[i:i+n-1])) AS gram
                FROM pairs, ns WHERE LEN(cand_s) >= n)
            GROUP BY 1, 2, 3
        ), clipped AS (
            SELECT r.doc_id, r.n, SUM(LEAST(r.c, c.c)) AS m
            FROM refg r JOIN candg c
              ON r.doc_id = c.doc_id AND r.n = c.n AND r.gram = c.gram
            GROUP BY 1, 2
        ), pn AS (
            SELECT rt.doc_id, rt.n,
                   CAST(COALESCE(cl.m, 0) AS DOUBLE) / ct.total AS p,
                   CAST(COALESCE(cl.m, 0) AS DOUBLE) / rt.total AS r
            FROM (SELECT doc_id, n, SUM(c) AS total FROM refg GROUP BY 1, 2) rt
            JOIN (SELECT doc_id, n, SUM(c) AS total FROM candg GROUP BY 1, 2) ct
              ON ct.doc_id = rt.doc_id AND ct.n = rt.n
            LEFT JOIN clipped cl ON cl.doc_id = rt.doc_id AND cl.n = rt.n
        ), avgd AS (
            SELECT doc_id, AVG(p) AS chrp, AVG(r) AS chrr
            FROM pn GROUP BY doc_id
        )
        SELECT p.doc_id, p.variant,
               ROUND(a.chrp, 6) AS chrf_precision,
               ROUND(a.chrr, 6) AS chrf_recall,
               ROUND(CASE WHEN {1 + _CHRF_BETA2} * a.chrp * a.chrr = 0 THEN 0.0
                          ELSE ({1 + _CHRF_BETA2} * a.chrp * a.chrr)
                               / ({_CHRF_BETA2} * a.chrp + a.chrr) END, 6)
                   AS chrf2
        FROM pairs p JOIN avgd a USING (doc_id)
    """,
)
def t106_chrf_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chrf_scores(eval_pairs(eval_sample(spark, sf_dir)))


def chrf_scores(pairs: DataFrame) -> DataFrame:
    """t106 over eval_pairs' rows: each side's tokens joined with '' are
    its space-stripped string. Both sides' char grams come from one
    explode, so there is no char-gram join (its shuffle_hash build map
    OOMed at sf10) and no output join."""
    s = pairs.selectExpr("doc_id", "array_join(tr, '') AS rs", "array_join(tc, '') AS cs")
    orders = range(1, _CHRF_MAX_N + 1)
    avgd = (
        clipped_overlap(s, ngrams_sql("rs", orders, "char"), ngrams_sql("cs", orders, "char"))
        .groupBy("doc_id")
        .agg(
            F.expr("avg(CAST(m AS DOUBLE) / c_total) AS chrp"),
            F.expr("avg(CAST(m AS DOUBLE) / r_total) AS chrr"),
        )
    )
    num = f"{1 + _CHRF_BETA2}D * chrp * chrr"
    return avgd.selectExpr(
        "doc_id",
        _VARIANT_SQL,
        "round(chrp, 6) AS chrf_precision",
        "round(chrr, 6) AS chrf_recall",
        f"round(CASE WHEN {num} = 0 THEN 0.0D ELSE {num} / ({_CHRF_BETA2}D * chrp + chrr) END, 6)"
        " AS chrf2",
    )


# ---------------------------------------------------------------------------
# T107: vocabulary growth curve + Heaps-law fit (tokenizer budget sizing)
# ---------------------------------------------------------------------------

_HEAPS_CHECKPOINTS = 10


@REGISTRY.register(
    name="t107_vocab_growth",
    survey_ref="training-data (corpus statistics): the V = K·N^beta "
    "vocabulary growth law — the curve that sizes a tokenizer vocab "
    "budget (t97's k) and predicts type counts at 100 TB from a "
    "fixture-scale prefix; complements t19's unigram distribution and "
    "t77's bigram perplexity with the type-accumulation view",
    doc="Heaps'-law type growth over word-3-gram shingle types (the "
    "unit that sizes d3's MinHash band space; the fixture's UNIGRAM "
    "vocabulary is closed — 31 types, all seen in the first decile — "
    "so unigram Heaps is degenerate here, measured): the corpus is "
    "cut into 10 doc_id-ordered checkpoints (bucket = "
    "floor(doc_id*10/(max_id+1)) — a map-side expression against one "
    "broadcast 1-row max, NOT an NTILE global sort over the corpus); "
    "per checkpoint the CUMULATIVE shingle-instance count N and "
    "distinct-type count V, where V accumulates via each type's "
    "FIRST bucket (one type-keyed min-agg — a type is counted once, "
    "at the prefix where it first appears), then the log-log OLS fit "
    "V = K*N^beta via COVAR_POP/VAR_POP over the 10-row checkpoint "
    "table, emitted on every row (+0.0 normalizes IEEE -0 before "
    "rounding — the engines disagree on COVAR_POP's zero sign). "
    "Shape: one corpus explode + one type-keyed shuffle + 10-row "
    "windows/aggs; the fit is a broadcast 1-row cross join. The "
    "running-prefix spelling (cumulative distinct per doc) would "
    "need a corpus-ordered global window; first-bucket attribution "
    "gives identical V at every checkpoint boundary with one "
    "partial-agg shuffle.",
    oracle=f"""
        WITH mx AS (SELECT MAX(doc_id) AS mid FROM documents),
        tok AS (
            SELECT LEAST({_HEAPS_CHECKPOINTS - 1},
                         CAST(FLOOR(CAST(doc_id AS DOUBLE) * {_HEAPS_CHECKPOINTS}
                                    / (mx.mid + 1)) AS INT)) AS b,
                   UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - 2),
                          i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS token
            FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w
                  FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 3), mx
        ), toks_per_b AS (
            SELECT b, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY b
        ), first_b AS (
            SELECT token, MIN(b) AS fb FROM tok GROUP BY token
        ), types_per_b AS (
            SELECT fb AS b, CAST(COUNT(*) AS BIGINT) AS n_new FROM first_b GROUP BY fb
        ), cum AS (
            SELECT t.b AS checkpoint,
                   CAST(SUM(t.n_tok) OVER (ORDER BY t.b) AS BIGINT) AS cum_tokens,
                   CAST(SUM(COALESCE(ty.n_new, 0)) OVER (ORDER BY t.b) AS BIGINT)
                       AS cum_types
            FROM toks_per_b t LEFT JOIN types_per_b ty ON ty.b = t.b
        ), fit AS (
            SELECT COVAR_POP(LN(cum_tokens), LN(cum_types))
                       / VAR_POP(LN(cum_tokens)) AS beta,
                   AVG(LN(cum_types))
                       - COVAR_POP(LN(cum_tokens), LN(cum_types))
                         / VAR_POP(LN(cum_tokens)) * AVG(LN(cum_tokens)) AS ln_k
            FROM cum
        )
        SELECT c.checkpoint, c.cum_tokens, c.cum_types,
               ROUND(f.beta + 0.0, 6) AS heaps_beta,
               ROUND(f.ln_k + 0.0, 6) AS heaps_ln_k
        FROM cum c, fit f
        ORDER BY c.checkpoint
    """,
)
def t107_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ai_iceberg_demo_spark.tables import fan_out_small_input, persist_once

    docs = fan_out_small_input(load_table(spark, "documents", sf_dir))
    mx = docs.agg(F.max("doc_id").alias("mid"))
    shingle = F.expr(
        "transform(sequence(0, size(w) - 3), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    )
    tok = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .crossJoin(F.broadcast(mx))
        .select(
            F.least(
                F.lit(_HEAPS_CHECKPOINTS - 1),
                F.floor(
                    F.col("doc_id").cast("double")
                    * _HEAPS_CHECKPOINTS
                    / (F.col("mid") + 1)
                ).cast("int"),
            ).alias("b"),
            F.explode(shingle).alias("token"),
        )
        .transform(persist_once)  # feeds the token-count AND first-bucket aggs
    )
    toks_per_b = tok.groupBy("b").agg(F.count("*").cast("bigint").alias("n_tok"))
    first_b = tok.groupBy("token").agg(F.min("b").alias("fb"))
    types_per_b = first_b.groupBy(F.col("fb").alias("b")).agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    # cumulative windows run over the 10-row checkpoint table — the
    # documented corpus-independent global-window exception
    wc = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = (
        toks_per_b.join(F.broadcast(types_per_b), "b", "left")
        .select(
            F.col("b").alias("checkpoint"),
            F.sum("n_tok").over(wc).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("n_new", F.lit(0)))
            .over(wc)
            .cast("bigint")
            .alias("cum_types"),
        )
    )
    ln_n, ln_v = F.log(F.col("cum_tokens")), F.log(F.col("cum_types"))
    fit = cum.agg(
        (F.covar_pop(ln_n, ln_v) / F.var_pop(ln_n)).alias("beta"),
        F.avg(ln_v).alias("mv"),
        F.avg(ln_n).alias("mn"),
    ).select(
        "beta", (F.col("mv") - F.col("beta") * F.col("mn")).alias("ln_k")
    )
    return (
        cum.crossJoin(F.broadcast(fit))
        .select(
            "checkpoint",
            "cum_tokens",
            "cum_types",
            F.round(F.col("beta") + 0.0, 6).alias("heaps_beta"),
            F.round(F.col("ln_k") + 0.0, 6).alias("heaps_ln_k"),
        )
        .orderBy("checkpoint")
    )


def _bpe_tokens_sql(w_cte: str) -> str:
    """Σ freq × symbol-count over a w{k} CTE — the corpus token total
    under that round's vocabulary."""
    return (
        f"SELECT CAST(SUM(freq * LEN(LIST_FILTER(STR_SPLIT(w, '|'), "
        f"x -> x <> ''))) AS BIGINT) FROM {w_cte}"
    )


@REGISTRY.register(
    name="t99_bpe_training_curve",
    survey_ref="training-data (tokenizer induction: the curve t97's merges buy; t56's training-side twin)",
    doc="the BPE TRAINING CURVE: for round 0 (chars) and after each of "
    "t97's learned merges, the corpus token total under that round's "
    "vocabulary and the cumulative compression percentage — the "
    "number a tokenizer training run actually optimizes (fertility "
    "drops as merges land; t56 measures the deployed tokenizer, this "
    "prices each merge during training). Reuses t97's unrolled loop "
    "verbatim (shared _bpe_unroll / the same CTE chain), so curve and "
    "merges cannot desync; the per-round total is one vocab-sized "
    "aggregate over the word-TYPE table.",
    oracle="WITH "
    + _bpe_words_sql()
    + ", "
    + ", ".join(_bpe_round_sql(k) for k in range(1, _BPE_ROUNDS + 1))
    + """
        , base AS (SELECT ("""
    + _bpe_tokens_sql("w0")
    + """) AS b)
        SELECT * FROM ("""
    + " UNION ALL ".join(
        (
            f"SELECT 0 AS round, '' AS merge_left, '' AS merge_right, "
            f"({_bpe_tokens_sql('w0')}) AS tokens_total, 0.0 AS compression_pct"
            if k == 0
            else (
                f"SELECT {k} AS round, l AS merge_left, r AS merge_right, "
                f"({_bpe_tokens_sql(f'w{k}')}) AS tokens_total, "
                f"ROUND(100.0 * (1 - ({_bpe_tokens_sql(f'w{k}')}) * 1.0 "
                f"/ (SELECT b FROM base)), 4) AS compression_pct FROM m{k}"
            )
        )
        for k in range(0, _BPE_ROUNDS + 1)
    )
    + """)
        ORDER BY round
    """,
)
def t99_bpe_training_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    w0, rounds = _bpe_unroll(spark, sf_dir)

    def tokens_total(wf: DataFrame):
        syms = F.filter(F.split("w", r"\|"), lambda x: x != F.lit(""))
        return wf.agg(
            F.sum(F.col("freq") * F.size(syms)).cast("bigint").alias("tokens_total")
        )

    base = tokens_total(w0).select(F.col("tokens_total").alias("b"))
    out = (
        tokens_total(w0)
        .crossJoin(F.broadcast(base))
        .select(
            F.lit(0).alias("round"),
            F.lit("").alias("merge_left"),
            F.lit("").alias("merge_right"),
            "tokens_total",
            F.lit(0.0).alias("compression_pct"),
        )
    )
    for k, (top, wf) in enumerate(rounds, start=1):
        row = (
            tokens_total(wf)
            .crossJoin(F.broadcast(top))
            .crossJoin(F.broadcast(base))
            .select(
                F.lit(k).alias("round"),
                F.col("l").alias("merge_left"),
                F.col("r").alias("merge_right"),
                "tokens_total",
                F.round(
                    100.0 * (1 - F.col("tokens_total").cast("double") / F.col("b")), 4
                ).alias("compression_pct"),
            )
        )
        out = out.unionByName(row)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# T104: fill-in-the-middle training examples (PSM transform)
# ---------------------------------------------------------------------------

_FIM_SENT_PRE = "<fim_prefix>"
_FIM_SENT_SUF = "<fim_suffix>"
_FIM_SENT_MID = "<fim_middle>"


@REGISTRY.register(
    name="t104_fim_examples",
    survey_ref="training-data (example construction): t35 builds "
    "next-item examples from sequences, u28 negatives — this is the "
    "fill-in-the-middle transform (Bavarian et al. 2022) applied to "
    "half the corpus, the standard mix for code/infilling models",
    doc="FIM example construction in PSM (prefix-suffix-middle) order: "
    "docs with doc_id%2==0 split at deterministic word boundaries — "
    "the middle spans [1/3, 2/3) of the token count (doc_id-free "
    "arithmetic, so both engines cut identically) — and emit "
    "<fim_prefix>P<fim_suffix>S<fim_middle>M as the input with the "
    "middle as the target; odd docs pass through unchanged (the "
    "AR/FIM mixture knob). Output: doc_id, kind, input_text, "
    "target_text, token counts. Purely map-side string surgery — at "
    "100 TB this is a zero-shuffle mapPartitions-shaped scan, the "
    "cheapest possible example transform.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STR_SPLIT(text, ' ') AS w, text FROM documents
        ), cuts AS (
            SELECT doc_id, w, text,
                   CAST(FLOOR(LEN(w) / 3.0) AS BIGINT) AS c1,
                   CAST(FLOOR(2 * LEN(w) / 3.0) AS BIGINT) AS c2
            FROM toks
        )
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'fim' ELSE 'ar' END AS kind,
               CASE WHEN doc_id % 2 = 0 THEN
                   '{_FIM_SENT_PRE}' || ARRAY_TO_STRING(w[1:c1], ' ')
                   || '{_FIM_SENT_SUF}' || ARRAY_TO_STRING(w[(c2+1):LEN(w)], ' ')
                   || '{_FIM_SENT_MID}'
               ELSE text END AS input_text,
               CASE WHEN doc_id % 2 = 0
                    THEN ARRAY_TO_STRING(w[(c1+1):c2], ' ') ELSE '' END
                   AS target_text,
               CAST(LEN(w) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN doc_id % 2 = 0 THEN c2 - c1 ELSE 0 END AS BIGINT)
                   AS n_target_tokens
        FROM cuts
    """,
)
def t104_fim_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.col("text"), " ")
    c1 = F.floor(F.size(w) / 3.0).cast("long")
    c2 = F.floor(2 * F.size(w) / 3.0).cast("long")
    is_fim = F.col("doc_id") % 2 == 0
    prefix = F.array_join(F.slice(w, 1, c1), " ")
    middle = F.array_join(F.slice(w, c1 + 1, c2 - c1), " ")
    suffix = F.array_join(
        F.slice(w, c2 + 1, F.size(w) - c2), " "
    )
    return docs.select(
        "doc_id",
        F.when(is_fim, "fim").otherwise("ar").alias("kind"),
        F.when(
            is_fim,
            F.concat(
                F.lit(_FIM_SENT_PRE), prefix,
                F.lit(_FIM_SENT_SUF), suffix,
                F.lit(_FIM_SENT_MID),
            ),
        )
        .otherwise(F.col("text"))
        .alias("input_text"),
        F.when(is_fim, middle).otherwise(F.lit("")).alias("target_text"),
        F.size(w).cast("bigint").alias("n_tokens"),
        F.when(is_fim, c2 - c1).otherwise(F.lit(0)).cast("bigint").alias(
            "n_target_tokens"
        ),
    )


# ---------------------------------------------------------------------------
# T103: span-corruption training examples (T5 denoising transform)
# ---------------------------------------------------------------------------

_SC_SPAN = 3  # tokens per corrupted span
_SC_EVERY = 7  # every 7th 3-token block masks → ~14.3% corruption rate


@REGISTRY.register(
    name="t103_span_corruption",
    survey_ref="training-data (example construction): t104's denoising "
    "sibling — the T5 span-corruption objective (Raffel et al. 2020 "
    "§3.1.4), deterministic edition",
    doc="span-corruption examples: the token stream cuts into "
    f"{_SC_SPAN}-token blocks and every {_SC_EVERY}th block (block "
    f"index % {_SC_EVERY} == 0 — doc-content-free arithmetic, both "
    "engines mask identically) is replaced by an ordered sentinel "
    "<extra_id_k>; the target is the sentinel-prefixed concatenation "
    f"of the masked spans (~{100 * _SC_SPAN / (_SC_SPAN * _SC_EVERY):.1f}% "
    "corruption, mean span 3 — T5's defaults). Masked blocks are "
    "never adjacent by construction, so span merging (the fiddly part "
    "of sampled corruption) cannot occur and the transform stays a "
    "pure per-row expression. Output: input_text, target_text, span "
    "count, corrupted-token count. Zero-shuffle map-side scan at any "
    "scale, like t104.",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STR_SPLIT(text, ' ') AS w FROM documents
        ), blocks AS (
            SELECT doc_id, w,
                   GENERATE_SERIES(0,
                       CAST(CEIL(LEN(w) / {_SC_SPAN}.0) AS BIGINT) - 1) AS bids
            FROM toks
        )
        SELECT doc_id,
               ARRAY_TO_STRING(LIST_TRANSFORM(bids, b ->
                   CASE WHEN b % {_SC_EVERY} = 0
                        THEN '<extra_id_' || CAST(b // {_SC_EVERY} AS VARCHAR) || '>'
                        ELSE ARRAY_TO_STRING(
                            w[(b * {_SC_SPAN} + 1):((b + 1) * {_SC_SPAN})], ' ')
                   END), ' ') AS input_text,
               ARRAY_TO_STRING(LIST_TRANSFORM(
                   LIST_FILTER(bids, b -> b % {_SC_EVERY} = 0), b ->
                   '<extra_id_' || CAST(b // {_SC_EVERY} AS VARCHAR) || '> ' ||
                   ARRAY_TO_STRING(
                       w[(b * {_SC_SPAN} + 1):((b + 1) * {_SC_SPAN})], ' ')),
                   ' ') AS target_text,
               CAST(LEN(LIST_FILTER(bids, b -> b % {_SC_EVERY} = 0)) AS BIGINT)
                   AS n_spans,
               CAST(LEN(FLATTEN(LIST_TRANSFORM(
                   LIST_FILTER(bids, b -> b % {_SC_EVERY} = 0), b ->
                   w[(b * {_SC_SPAN} + 1):((b + 1) * {_SC_SPAN})]))) AS BIGINT)
                   AS n_corrupted_tokens
        FROM blocks
    """,
)
def t103_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    w = F.split(F.col("text"), " ")
    n_blocks = F.ceil(F.size(w) / float(_SC_SPAN)).cast("long")
    bids = F.sequence(F.lit(0).cast("long"), n_blocks - 1)
    block_txt = lambda b: F.array_join(
        F.slice(w, b * _SC_SPAN + 1, _SC_SPAN), " "
    )
    sentinel = lambda b: F.concat(
        F.lit("<extra_id_"),
        (b / _SC_EVERY).cast("long").cast("string"),
        F.lit(">"),
    )
    masked = F.filter(bids, lambda b: b % _SC_EVERY == 0)
    return docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                bids,
                lambda b: F.when(b % _SC_EVERY == 0, sentinel(b)).otherwise(
                    block_txt(b)
                ),
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.transform(
                masked, lambda b: F.concat(sentinel(b), F.lit(" "), block_txt(b))
            ),
            " ",
        ).alias("target_text"),
        F.size(masked).cast("bigint").alias("n_spans"),
        F.size(
            F.flatten(
                F.transform(masked, lambda b: F.slice(w, b * _SC_SPAN + 1, _SC_SPAN))
            )
        )
        .cast("bigint")
        .alias("n_corrupted_tokens"),
    )


# ---------------------------------------------------------------------------
# t108: logistic-regression quality classifier, fixed-unroll GD training
# ---------------------------------------------------------------------------

_LOGREG_ROUNDS = 3
_LOGREG_LR = 1.0
_LOGREG_DP = 6
_LOGREG_Y_CHARS = 300  # weak label: docs at/over this length are "high quality"
# Clamp p into [ε, 1−ε] before the loss AND the gradient (r11 ADVICE):
# once the sigmoid saturates (|z| ≳ 37 in double), p is exactly 0.0/1.0
# and the logloss term LN(0) hard-errors in DuckDB while Spark's log(0)
# returns NULL and silently drops the row from AVG — two different wrong
# behaviors for very long documents at corpus scale. The clamp keeps
# both engines finite and identical; 1e-12 is far below _LOGREG_DP's
# rounding quantum so fixture hashes are unchanged.
_LOGREG_P_CLAMP = "0.000000000001"
_SW_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)


def _logreg_round_sql(prev_w: str, idx: int) -> str:
    """One full-batch gradient-descent round in SQL against weight CTE
    ``prev_w`` (columns w0..w3): sigmoid scores, average gradient,
    ROUNDed weight update (the v11c/v12b quantized-unroll discipline —
    rounding at the boundary is what lets a fixed unroll hash-match
    across engines). The ``+ 0.0`` before every ROUND normalizes IEEE
    -0.0 (the r10 COVAR_POP lesson). ``logloss`` is evaluated at the
    PRE-update weights — the loss this round's gradient saw."""
    return f"""
        s{idx} AS (
            SELECT f.x1, f.x2, f.x3, f.y,
                   LEAST(GREATEST(
                       1.0 / (1.0 + EXP(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
                                          + w.w3 * f.x3))),
                       {_LOGREG_P_CLAMP}), 1.0 - {_LOGREG_P_CLAMP}) AS p,
                   w.w0 AS pw0, w.w1 AS pw1, w.w2 AS pw2, w.w3 AS pw3
            FROM feats f CROSS JOIN {prev_w} w
        ), w{idx} AS (
            SELECT ROUND(ANY_VALUE(pw0) - {_LOGREG_LR} * AVG(p - y) + 0.0, {_LOGREG_DP}) AS w0,
                   ROUND(ANY_VALUE(pw1) - {_LOGREG_LR} * AVG((p - y) * x1) + 0.0, {_LOGREG_DP}) AS w1,
                   ROUND(ANY_VALUE(pw2) - {_LOGREG_LR} * AVG((p - y) * x2) + 0.0, {_LOGREG_DP}) AS w2,
                   ROUND(ANY_VALUE(pw3) - {_LOGREG_LR} * AVG((p - y) * x3) + 0.0, {_LOGREG_DP}) AS w3,
                   ROUND(AVG(-(y * LN(p) + (1.0 - y) * LN(1.0 - p))) + 0.0, {_LOGREG_DP}) AS logloss
            FROM s{idx}
        )"""


@REGISTRY.register(
    name="t108_logreg_quality",
    survey_ref="training-data (quality filtering; trains the classifier "
    "t2's hand-tuned score approximates — v11c/v12b/t97's fixed-unroll "
    "iterative-trainer family applied to supervised learning)",
    doc=f"logistic-regression quality classifier trained IN the engine "
    f"by {_LOGREG_ROUNDS} rounds of full-batch gradient descent "
    f"(lr={_LOGREG_LR}), weights rounded to {_LOGREG_DP} decimals per "
    "round so the unroll is exactly SQL-replayable (the v11c "
    "discipline). Features per document: scaled char length "
    "(n_chars/400), stopword ratio (t2's set), scaled whitespace-token "
    f"count (/80); weak label y = [n_chars >= {_LOGREG_Y_CHARS}] — the "
    "distillation shape every fasttext-style corpus filter trains "
    "(features cheap everywhere, label expensive somewhere). Output: "
    "one row per round with the post-update weights and the pre-update "
    "log-loss (round 1's loss is exactly ln 2 from the zero init — a "
    "free cross-engine pin). Scale: the feature frame is one map-side "
    "scan (persisted once); each round is ONE all-reduce to a 4-double "
    "gradient row broadcast back — state is corpus-independent "
    "(d+1 doubles), so 100 TB costs 3 cached passes, no shuffle "
    "beyond the tree-aggregate. EXP/LN cross-engine per the t77 "
    "adjudication; -0.0 normalized per the r10 COVAR lesson; p "
    "clamped to [1e-12, 1-1e-12] on BOTH engines so a saturated "
    "sigmoid (|z|>~37, very long docs) can't turn the loss into "
    "DuckDB LN(0) errors / Spark NULL-dropped rows (r11 ADVICE).",
    oracle=f"""
        WITH feats AS (
            SELECT CAST(n_chars AS DOUBLE) / 400.0 AS x1,
                   CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                        t -> t IN ({_SW_SQL}))) AS DOUBLE)
                     / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1) AS x2,
                   CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 80.0 AS x3,
                   CASE WHEN n_chars >= {_LOGREG_Y_CHARS} THEN 1.0 ELSE 0.0 END AS y
            FROM documents
        ), w0cte AS (
            SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3
        ), {_logreg_round_sql("w0cte", 1)[9:]}
        , {_logreg_round_sql("w1", 2)[9:]}
        , {_logreg_round_sql("w2", 3)[9:]}
        SELECT CAST(1 AS BIGINT) AS round, w0 AS w_intercept, w1 AS w_len,
               w2 AS w_stop, w3 AS w_tok, logloss FROM w1
        UNION ALL
        SELECT CAST(2 AS BIGINT), w0, w1, w2, w3, logloss FROM w2
        UNION ALL
        SELECT CAST(3 AS BIGINT), w0, w1, w2, w3, logloss FROM w3
    """,
)
def t108_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks_l = F.split(F.lower(F.col("text")), " ")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    feats = docs.select(
        (F.col("n_chars").cast("double") / 400.0).alias("x1"),
        (
            F.size(F.filter(toks_l, lambda t: F.array_contains(stop, t))).cast(
                "double"
            )
            / F.greatest(F.size(toks_l), F.lit(1))
        ).alias("x2"),
        (F.size(F.split(F.col("text"), " ")).cast("double") / 80.0).alias("x3"),
        F.when(F.col("n_chars") >= _LOGREG_Y_CHARS, 1.0).otherwise(0.0).alias("y"),
    ).transform(persist_once)

    w = spark.range(1).select(
        F.lit(0.0).alias("w0"),
        F.lit(0.0).alias("w1"),
        F.lit(0.0).alias("w2"),
        F.lit(0.0).alias("w3"),
    )
    per_round: list[DataFrame] = []
    for r in range(1, _LOGREG_ROUNDS + 1):
        scored = feats.crossJoin(F.broadcast(w))
        z = (
            F.col("w0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
            + F.col("w3") * F.col("x3")
        )
        eps = float(_LOGREG_P_CLAMP)
        scored = scored.withColumn(
            "p",
            F.least(
                F.greatest(1.0 / (1.0 + F.exp(-z)), F.lit(eps)), F.lit(1.0 - eps)
            ),
        )
        resid = F.col("p") - F.col("y")
        upd = scored.agg(
            F.round(
                F.any_value("w0") - _LOGREG_LR * F.avg(resid) + 0.0, _LOGREG_DP
            ).alias("w0"),
            F.round(
                F.any_value("w1") - _LOGREG_LR * F.avg(resid * F.col("x1")) + 0.0,
                _LOGREG_DP,
            ).alias("w1"),
            F.round(
                F.any_value("w2") - _LOGREG_LR * F.avg(resid * F.col("x2")) + 0.0,
                _LOGREG_DP,
            ).alias("w2"),
            F.round(
                F.any_value("w3") - _LOGREG_LR * F.avg(resid * F.col("x3")) + 0.0,
                _LOGREG_DP,
            ).alias("w3"),
            F.round(
                F.avg(
                    -(
                        F.col("y") * F.log("p")
                        + (1.0 - F.col("y")) * F.log(1.0 - F.col("p"))
                    )
                )
                + 0.0,
                _LOGREG_DP,
            ).alias("logloss"),
        )
        per_round.append(
            upd.select(
                F.lit(r).cast("bigint").alias("round"),
                F.col("w0").alias("w_intercept"),
                F.col("w1").alias("w_len"),
                F.col("w2").alias("w_stop"),
                F.col("w3").alias("w_tok"),
                "logloss",
            )
        )
        w = upd.select("w0", "w1", "w2", "w3")
    out = per_round[0]
    for df in per_round[1:]:
        out = out.union(df)
    return out


# ---------------------------------------------------------------------------
# t109: word error rate via closed-vocab single-char encoding
# ---------------------------------------------------------------------------

_WER_VOCAB_CAP = 94  # printable ASCII 33..126 after CHR(32 + rank)


@REGISTRY.register(
    name="t109_wer_eval",
    survey_ref="training-data (generation eval; the EDIT-DISTANCE "
    "member beside the overlap triple t105 BLEU / t98 ROUGE-2 / "
    "t106 chrF — WER/TER-style, order-sensitive where overlap "
    "metrics are bag-of-ngrams)",
    doc="word error rate per (reference, candidate) pair, computed "
    "EXACTLY at the token level by encoding each of the top-"
    f"{_WER_VOCAB_CAP} corpus tokens (by frequency, ties "
    "alphabetical) as one printable-ASCII character — rarer tokens "
    "fold to a shared UNK char — so word-level Levenshtein becomes "
    "built-in string levenshtein on BOTH engines (no UDF DP). Three "
    "planted candidate classes separate the error factors: "
    "doc_id%30==0 truncated to 2/3 (pure deletions — WER exactly "
    "(n_ref - n_cand)/n_ref), %30==10 every 5th token substituted "
    "(edit distance <= the substitution count), %30==20 footer-"
    "extended (pure insertions — edit exactly 4). Scale: the vocab "
    "is a top-k (ORDER BY count LIMIT), giving a corpus-INDEPENDENT "
    "<=94-row broadcast by construction (v18c's occupancy-table "
    "argument); encode (r12) folds the vocab into ONE broadcast "
    "<=94-entry map applied by transform() over the intact token "
    "arrays — no explode/reassembly, no doc-keyed shuffle, "
    "levenshtein per row; the only corpus-keyed exchange is the "
    "token-count partial agg feeding the top-k. Production note: a "
    ">94-type vocabulary "
    "two-char-encodes (94^2 = 8836 types) or drops to the "
    "pandas-UDF token DP; UNK folding is the standard eval "
    "trade-off either way.",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 30 = 0 THEN 'trunc'
                        WHEN doc_id % 30 = 10 THEN 'subst'
                        ELSE 'footer' END AS pair_kind,
                   STRING_SPLIT(text, ' ') AS rt,
                   CASE WHEN doc_id % 30 = 0
                        THEN STRING_SPLIT(text, ' ')[1:GREATEST(
                             (LEN(STRING_SPLIT(text, ' ')) * 2) // 3, 1)]
                        WHEN doc_id % 30 = 10
                        THEN LIST_TRANSFORM(STRING_SPLIT(text, ' '),
                             (x, i) -> CASE WHEN i % 5 = 0 THEN 'value' ELSE x END)
                        ELSE LIST_CONCAT(STRING_SPLIT(text, ' '),
                             [{", ".join("'" + t.replace("'", "''") + "'" for t in _FOOTER)}])
                   END AS ct
            FROM documents WHERE doc_id % 10 = 0
        ), toks AS (
            SELECT doc_id, 'r' AS side,
                   GENERATE_SUBSCRIPTS(rt, 1) AS pos, UNNEST(rt) AS tok
            FROM pairs
            UNION ALL
            SELECT doc_id, 'c' AS side,
                   GENERATE_SUBSCRIPTS(ct, 1) AS pos, UNNEST(ct) AS tok
            FROM pairs
        ), vocab AS (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rnk
            FROM toks GROUP BY tok
        ), coded AS (
            SELECT t.doc_id, t.side, t.pos,
                   CHR(CASE WHEN v.rnk <= {_WER_VOCAB_CAP}
                            THEN 32 + CAST(v.rnk AS INT) ELSE 127 END) AS ch
            FROM toks t JOIN vocab v USING (tok)
        ), enc AS (
            SELECT doc_id, side,
                   STRING_AGG(ch, '' ORDER BY pos) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM coded GROUP BY doc_id, side
        )
        SELECT p.doc_id, p.pair_kind,
               r.n AS n_ref_tokens,
               CAST(LEVENSHTEIN(r.s, c.s) AS BIGINT) AS edit_distance,
               ROUND(CAST(LEVENSHTEIN(r.s, c.s) AS DOUBLE) / r.n, 6) AS wer
        FROM pairs p
        JOIN enc r ON r.doc_id = p.doc_id AND r.side = 'r'
        JOIN enc c ON c.doc_id = p.doc_id AND c.side = 'c'
    """,
)
def t109_wer_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-robin fan-out, not eval_sample's doc_id-keyed one: nothing
    # here is doc_id-keyed (the encode is map-side)
    return wer_scores(
        fan_out_small_input(
            load_table(spark, "documents", sf_dir).filter(F.col("doc_id") % 10 == 0)
        )
    )


def wer_scores(docs: DataFrame) -> DataFrame:
    """t109 over the (doc_id, text) rows of the 1-in-10 sample."""
    rt = F.split(F.col("text"), " ")
    trunc = F.slice(
        rt, 1, F.greatest(F.floor(F.size(rt) * 2 / 3).cast("int"), F.lit(1))
    )
    # Spark transform index is 0-based; DuckDB list lambda index is
    # 1-based — (i + 1) here IS the oracle's i
    subst = F.transform(
        rt,
        lambda x, i: F.when((i + 1) % 5 == 0, F.lit("value")).otherwise(x),
    )
    footer = F.concat(rt, F.expr(_FOOTER_SQL))
    pairs = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 30 == 0, "trunc")
        .when(F.col("doc_id") % 30 == 10, "subst")
        .otherwise("footer")
        .alias("pair_kind"),
        rt.alias("rt"),
        F.when(F.col("doc_id") % 30 == 0, trunc)
        .when(F.col("doc_id") % 30 == 10, subst)
        .otherwise(footer)
        .alias("ct"),
    )

    # r12 optimization (guide §2.3/§2.4): the former encode path
    # exploded every token (pos, tok), broadcast-joined the vocab, and
    # REASSEMBLED each side with a doc-keyed collect_list + array_sort
    # shuffle — a corpus-token-volume exchange whose only purpose was
    # to put tokens back in the order they already had in the row. The
    # vocab is ≤94 rows by construction, so it folds into ONE broadcast
    # map (the occupancy-table discipline) and the encode becomes a
    # pure map-side transform over the intact token arrays: zero
    # doc-keyed shuffles, one tiny token-keyed partial-agg exchange for
    # the global top-k, levenshtein per row. Plan: 2 corpus passes
    # (count vocab, encode), nothing corpus-sized ever shuffles.
    from pyspark.sql import Window as W

    counts = (
        pairs.select(F.explode(F.concat("rt", "ct")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(_WER_VOCAB_CAP)
    # global window AFTER the limit, over that bounded ≤94-row frame
    vocab = top.select(
        "tok",
        F.row_number()
        .over(W.orderBy(F.desc("cnt"), F.asc("tok")))
        .alias("rnk"),
    )
    vmap = vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "rnk"))).alias("vm")
    )

    def encode(col: str):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda x: F.char(
                    F.coalesce(F.element_at(F.col("vm"), x) + 32, F.lit(127))
                ),
            ),
            "",
        )

    enc = pairs.crossJoin(F.broadcast(vmap)).select(
        "doc_id",
        "pair_kind",
        F.size("rt").cast("bigint").alias("n_ref_tokens"),
        F.levenshtein(encode("rt"), encode("ct")).alias("lev"),
    )
    return enc.select(
        "doc_id",
        "pair_kind",
        "n_ref_tokens",
        F.col("lev").cast("bigint").alias("edit_distance"),
        F.round(F.col("lev").cast("double") / F.col("n_ref_tokens"), 6).alias("wer"),
    )


# ---------------------------------------------------------------------------
# t110: Poisson-bootstrap confidence interval on a corpus eval metric
# ---------------------------------------------------------------------------

_BOOT_B = 80  # replicates; 95% percentile CI = order stats 2 and 79
_BOOT_LO_RANK = 2
_BOOT_HI_RANK = 79
# Poisson(1) inverse CDF over a 6-digit md5 percentile (CDF values
# 0.367879 / 0.735759 / 0.919699 / 0.981012 — fixed integer
# thresholds, identical CASE on both engines)
_POIS_T = (367879, 735759, 919699, 981012)


@REGISTRY.register(
    name="t110_bootstrap_ci",
    survey_ref="training-data (eval statistics: error bars on a corpus "
    "metric — the report line every eval card should carry; t27/t80's "
    "parametric tests' nonparametric sibling)",
    doc=f"percentile-bootstrap 95% CI on the mean t2 quality score via "
    f"the POISSON bootstrap ({_BOOT_B} replicates): each (replicate, "
    "doc) draws a Poisson(1) weight from the md5 inverse-CDF, so "
    "resampling is a pure MAP over the corpus — the reason the "
    "Poisson bootstrap (Chamandy et al., Google 2012) is THE "
    "bootstrap that scales: no with-replacement pass, no global "
    "state, appends can't shift other rows' draws. Replicate means "
    "round to 9 decimals BEFORE ranking (sum-order noise must not "
    "flip the order statistics; ties break by replicate id), and the "
    f"CI is order stats {_BOOT_LO_RANK}/{_BOOT_HI_RANK} of the "
    f"{_BOOT_B}-row replicate-mean table. Output: one row (n_docs, "
    "point_mean, boot_lo, boot_hi). Scale: explode ×"
    f"{_BOOT_B} is a bounded map-side fan-out; one b-keyed agg "
    f"(B={_BOOT_B} groups, partial map-side); the rank window runs "
    "over the corpus-independent 80-row replicate table.",
    oracle=f"""
        WITH q AS (
            SELECT doc_id,
                   0.6 * LEAST(LENGTH(text) / 400.0, 1.0)
                     + 0.4 * (CASE WHEN sw_ratio >= 0.05 AND sw_ratio <= 0.6
                                   THEN 1.0 ELSE 0.5 END) AS x
            FROM (
                SELECT doc_id, text,
                       CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                            t -> t IN ({_SW_SQL}))) AS DOUBLE)
                         / GREATEST(LEN(STRING_SPLIT(LOWER(text), ' ')), 1) AS sw_ratio
                FROM documents)
        ), reps AS (
            SELECT b, x,
                   CASE WHEN m < {_POIS_T[0]} THEN 0
                        WHEN m < {_POIS_T[1]} THEN 1
                        WHEN m < {_POIS_T[2]} THEN 2
                        WHEN m < {_POIS_T[3]} THEN 3
                        ELSE 4 END AS w
            FROM (
                SELECT bb.b, d.x,
                       ('0x' || SUBSTR(MD5('boot:' || CAST(bb.b AS VARCHAR)
                            || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                         % 1000000 AS m
                FROM q d CROSS JOIN
                     (SELECT UNNEST(GENERATE_SERIES(1, {_BOOT_B})) AS b) bb)
        ), means AS (
            SELECT b, ROUND(SUM(w * x) / SUM(w) + 0.0, 9) AS rep_mean
            FROM reps GROUP BY b
        ), ranked AS (
            SELECT rep_mean,
                   ROW_NUMBER() OVER (ORDER BY rep_mean, b) AS rn
            FROM means
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_docs,
               (SELECT ROUND(AVG(x) + 0.0, 6) FROM q) AS point_mean,
               (SELECT ROUND(rep_mean + 0.0, 6) FROM ranked
                WHERE rn = {_BOOT_LO_RANK}) AS boot_lo,
               (SELECT ROUND(rep_mean + 0.0, 6) FROM ranked
                WHERE rn = {_BOOT_HI_RANK}) AS boot_hi
    """,
)
def t110_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir)
    q = docs.select(
        "doc_id", quality_score(F.col("text")).alias("x")
    ).transform(persist_once)
    m = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    w = (
        F.when(m < _POIS_T[0], 0)
        .when(m < _POIS_T[1], 1)
        .when(m < _POIS_T[2], 2)
        .when(m < _POIS_T[3], 3)
        .otherwise(4)
    )
    reps = q.select(
        "doc_id",
        "x",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    ).select("b", "x", w.alias("w"))
    means = reps.groupBy("b").agg(
        F.round(F.sum(F.col("w") * F.col("x")) / F.sum("w") + 0.0, 9).alias(
            "rep_mean"
        )
    )
    # 80-row replicate table — the global rank window is
    # corpus-independent (t107's adjudicated pattern)
    ranked = means.select(
        "rep_mean", F.row_number().over(W.orderBy("rep_mean", "b")).alias("rn")
    )
    lo = ranked.filter(F.col("rn") == _BOOT_LO_RANK).select(
        F.round(F.col("rep_mean") + 0.0, 6).alias("boot_lo")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_HI_RANK).select(
        F.round(F.col("rep_mean") + 0.0, 6).alias("boot_hi")
    )
    point = q.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("x") + 0.0, 6).alias("point_mean"),
    )
    return point.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))


# ---------------------------------------------------------------------------
# pipeline_eval_card: the generation-eval governance card
# ---------------------------------------------------------------------------


def _eval_card_oracle() -> str:
    """Composes the four generation-eval ops' registered SQL verbatim
    (pipeline_graph_quality's oracle-compose discipline) so the card
    can never drift from its parts."""
    t105 = REGISTRY.specs["t105_bleu_eval"].oracle
    t98 = REGISTRY.specs["t98_rouge2_eval"].oracle
    t106 = REGISTRY.specs["t106_chrf_eval"].oracle
    t109 = REGISTRY.specs["t109_wer_eval"].oracle
    return f"""
        SELECT family, metric, value FROM (
            SELECT 'bleu' AS family, 'n_pairs' AS metric,
                   CAST(COUNT(*) AS DOUBLE) AS value FROM ({t105})
            UNION ALL
            SELECT 'bleu', 'mean_bleu4', ROUND(AVG(bleu4) + 0.0, 6) FROM ({t105})
            UNION ALL
            SELECT 'rouge2', 'n_pairs', CAST(COUNT(*) AS DOUBLE) FROM ({t98})
            UNION ALL
            SELECT 'rouge2', 'mean_f1', ROUND(AVG(rouge2_f1) + 0.0, 6) FROM ({t98})
            UNION ALL
            SELECT 'chrf', 'n_pairs', CAST(COUNT(*) AS DOUBLE) FROM ({t106})
            UNION ALL
            SELECT 'chrf', 'mean_chrf2', ROUND(AVG(chrf2) + 0.0, 6) FROM ({t106})
            UNION ALL
            SELECT 'wer', 'n_pairs', CAST(COUNT(*) AS DOUBLE) FROM ({t109})
            UNION ALL
            SELECT 'wer', 'mean_wer', ROUND(AVG(wer) + 0.0, 6) FROM ({t109})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_eval_card",
    survey_ref="training-data (composed: t105 + t98 + t106 + t109 — "
    "the generation-eval governance card, pipeline_graph_quality's "
    "discipline applied to the eval-metric family)",
    bench=True,  # r11 verdict #6: heaviest never-floored plan, d9b precedent
    doc="the generation-eval report in ONE long-format table (family, "
    "metric, value): pair count and mean score for BLEU-4 (t105), "
    "ROUGE-2 F1 (t98), chrF (t106) and WER (t109) — the card an eval "
    "pipeline publishes per model checkpoint so regressions in ANY of "
    "the four metric families surface in one place. The oracle "
    "composes the four parts' registered SQL verbatim; the Spark side "
    "builds the 1-in-10 sample once (eval_sample, one doc_id-keyed "
    "exchange) and passes it to the builders the four registered "
    "queries wrap: t105 and t106 share one pair frame (eval_pairs), "
    "and t98, t105, t106 and t109 read the one exchange (AQE reuses "
    "it). Each result is reduced to its (n_pairs, mean) pair in a "
    "1-row aggregate.",
    oracle=_eval_card_oracle(),
)
def pipeline_eval_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    def card(df: DataFrame, family: str, mean_col: str, mean_name: str) -> DataFrame:
        agg = df.agg(
            F.count("*").cast("double").alias("n_pairs"),
            F.round(F.avg(mean_col) + 0.0, 6).alias(mean_name),
        )
        return long_metrics(agg, family, ["n_pairs", mean_name])

    sample = eval_sample(spark, sf_dir)
    pairs = eval_pairs(sample)
    out = (
        card(bleu_scores(pairs), "bleu", "bleu4", "mean_bleu4")
        .unionAll(card(rouge2_scores(sample), "rouge2", "rouge2_f1", "mean_f1"))
        .unionAll(card(chrf_scores(pairs), "chrf", "chrf2", "mean_chrf2"))
        .unionAll(card(wer_scores(sample), "wer", "wer", "mean_wer"))
    )
    return out.orderBy("family", "metric")


# ---------------------------------------------------------------------------
# t111: Self-BLEU — generation diversity over a capped probe sample
# ---------------------------------------------------------------------------

_SB_SAMPLE = 64  # probe docs; all downstream cost is SAMPLE², corpus-free


@REGISTRY.register(
    name="t111_self_bleu",
    survey_ref="training-data (generation diversity, Zhu et al. "
    "SIGIR 2018: LOW self-BLEU = diverse corpus/sample, HIGH = mode "
    "collapse — the metric a synthetic-data pipeline watches while "
    "t105 watches fidelity)",
    doc=f"Self-BLEU over a deterministic {_SB_SAMPLE}-doc probe "
    "sample (top-64 by md5 hash order — corpus-INDEPENDENT size by "
    "construction, the v18c occupancy-table argument): mean pairwise "
    "single-reference BLEU-4 over all ordered (candidate, reference) "
    "pairs, reusing t105's exact clipping/brevity/sqrt(sqrt) "
    "arithmetic (the common single-ref simplification of the "
    "multi-ref original, documented). Output: one row (n_sample, "
    "n_pairs, mean_self_bleu, max_self_bleu). The fixture's CLOSED "
    "31-type vocabulary makes unigram overlap near-total while "
    "4-gram overlap stays rare — exactly the regime where the "
    "geometric mean discriminates. Scale: the probe is one "
    "TakeOrdered pass over the corpus; every later table is bounded "
    f"by {_SB_SAMPLE} docs (grams ≤ sample·len, pair grid ≤ "
    f"{_SB_SAMPLE}², gram self-join fan-out ≤ {_SB_SAMPLE}² per "
    "gram), so AQE's broadcasts here are provably safe — no d13 "
    "hints needed, and the whole metric costs O(corpus scan + "
    "sample²) at any corpus size.",
    oracle=f"""
        WITH sample AS MATERIALIZED (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS w
            FROM documents
            WHERE LEN(STRING_SPLIT(text, ' ')) >= 4
            ORDER BY MD5('sb:' || CAST(doc_id AS VARCHAR)), doc_id
            LIMIT {_SB_SAMPLE}
        ), g AS MATERIALIZED (
            SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c FROM (
                SELECT doc_id, n,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - n + 1),
                              i -> ARRAY_TO_STRING(w[i:i+n-1], ' '))) AS gram
                FROM sample, (SELECT UNNEST([1, 2, 3, 4]) AS n) ns
                WHERE LEN(w) >= n
            ) GROUP BY doc_id, n, gram
        ), tot AS (
            SELECT doc_id, n, SUM(c) AS total FROM g GROUP BY doc_id, n
        ), grid AS (
            SELECT a.doc_id AS cand, b.doc_id AS ref
            FROM sample a JOIN sample b ON a.doc_id <> b.doc_id
        ), ov AS (
            SELECT ga.doc_id AS cand, gb.doc_id AS ref, ga.n,
                   SUM(LEAST(ga.c, gb.c)) AS m
            FROM g ga JOIN g gb
              ON ga.n = gb.n AND ga.gram = gb.gram
             AND ga.doc_id <> gb.doc_id
            GROUP BY 1, 2, 3
        ), p AS (
            SELECT gr.cand, gr.ref, nn.n,
                   COALESCE(o.m, 0) / CAST(t.total AS DOUBLE) AS p
            FROM grid gr
            CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 4)) AS n) nn
            JOIN tot t ON t.doc_id = gr.cand AND t.n = nn.n
            LEFT JOIN ov o ON o.cand = gr.cand AND o.ref = gr.ref AND o.n = nn.n
        ), wide AS (
            SELECT cand, ref,
                   MAX(CASE WHEN n = 1 THEN p END) AS p1,
                   MAX(CASE WHEN n = 2 THEN p END) AS p2,
                   MAX(CASE WHEN n = 3 THEN p END) AS p3,
                   MAX(CASE WHEN n = 4 THEN p END) AS p4
            FROM p GROUP BY cand, ref
        ), lens AS (
            SELECT doc_id, LEN(w) AS l FROM sample
        ), bleu AS (
            SELECT w.cand, w.ref,
                   ROUND(CASE WHEN w.p1 * w.p2 * w.p3 * w.p4 > 0 THEN
                              (CASE WHEN lc.l >= lr.l THEN 1.0
                                    ELSE EXP(1.0 - CAST(lr.l AS DOUBLE) / lc.l)
                               END) * SQRT(SQRT(w.p1 * w.p2 * w.p3 * w.p4))
                              ELSE 0.0 END, 6) AS b
            FROM wide w
            JOIN lens lc ON lc.doc_id = w.cand
            JOIN lens lr ON lr.doc_id = w.ref
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sample) AS n_sample,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(AVG(b) + 0.0, 6) AS mean_self_bleu,
               ROUND(MAX(b) + 0.0, 6) AS max_self_bleu
        FROM bleu
    """,
)
def t111_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    sample = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 4)
        .orderBy(
            F.md5(F.concat(F.lit("sb:"), F.col("doc_id").cast("string"))),
            F.asc("doc_id"),
        )
        .limit(_SB_SAMPLE)
        .transform(persist_once)
    )
    g = (
        sample.selectExpr("doc_id", f"inline({ngrams_sql('w', range(1, 5))})")
        .groupBy("doc_id", "n", "gram")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(persist_once)
    )
    tot = g.groupBy("doc_id", "n").agg(F.sum("c").alias("total"))
    grid = (
        sample.select(F.col("doc_id").alias("cand"))
        .join(
            sample.select(F.col("doc_id").alias("ref")),
            F.col("cand") != F.col("ref"),
        )
    )
    ga, gb = g.alias("ga"), g.alias("gb")
    ov = (
        ga.join(
            gb,
            (F.col("ga.n") == F.col("gb.n"))
            & (F.col("ga.gram") == F.col("gb.gram"))
            & (F.col("ga.doc_id") != F.col("gb.doc_id")),
        )
        .groupBy(
            F.col("ga.doc_id").alias("cand"),
            F.col("gb.doc_id").alias("ref"),
            F.col("ga.n").alias("n"),
        )
        .agg(F.sum(F.least(F.col("ga.c"), F.col("gb.c"))).alias("m"))
    )
    grid_n = grid.select(
        "cand", "ref", F.explode(F.sequence(F.lit(1), F.lit(4))).alias("n")
    )
    p = (
        grid_n.join(
            tot.select(F.col("doc_id").alias("cand"), "n", "total"), ["cand", "n"]
        )
        .join(ov, ["cand", "ref", "n"], "left")
        .select(
            "cand",
            "ref",
            "n",
            (F.coalesce("m", F.lit(0)) / F.col("total").cast("double")).alias("p"),
        )
    )
    wide = p.groupBy("cand", "ref").agg(*_p_wide())
    lens = sample.select("doc_id", F.size("w").alias("l"))
    bleu = (
        wide.join(
            lens.select(F.col("doc_id").alias("cand"), F.col("l").alias("lc")),
            "cand",
        )
        .join(
            lens.select(F.col("doc_id").alias("ref"), F.col("l").alias("lr")),
            "ref",
        )
        .selectExpr(f"round({bleu4_sql('lc', 'lr')}, 6) AS b")
    )
    n_sample = sample.agg(F.count("*").cast("bigint").alias("n_sample"))
    return n_sample.crossJoin(
        F.broadcast(
            bleu.agg(
                F.count("*").cast("bigint").alias("n_pairs"),
                F.round(F.avg("b") + 0.0, 6).alias("mean_self_bleu"),
                F.round(F.max("b") + 0.0, 6).alias("max_self_bleu"),
            )
        )
    ).select("n_sample", "n_pairs", "mean_self_bleu", "max_self_bleu")


# ---------------------------------------------------------------------------
# t114: distinct-n generation diversity (Li et al. 2016)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="t114_distinct_n",
    survey_ref="training-data (generation diversity: distinct-n, Li "
    "et al. NAACL 2016 — the O(corpus) repetition gauge beside t111 "
    "Self-BLEU's O(sample²) mode-collapse probe: distinct-n reads the "
    "WHOLE corpus where Self-BLEU reads a bounded sample, so the two "
    "fail differently — a generator that repeats one phrase "
    "everywhere crashes distinct-n corpus-wide even if the sampled "
    "pairs happen to look diverse)",
    doc="distinct-n diversity over the whole corpus for n = 1..3: one "
    "row per n with total n-gram occurrences, distinct n-gram types, "
    "the corpus-level ratio distinct/total (Li et al.'s distinct-n), "
    "and the MEAN per-document distinct ratio — the corpus ratio "
    "catches cross-document phrase collapse (every doc emitting the "
    "same boilerplate), the per-doc mean catches within-document "
    "stutter (t18's repetition signal, here in metric form); the gap "
    "between the two localizes WHICH failure a low score means. "
    "Built on the family's n-gram expression (ngrams_sql, n = 1..3). All "
    "counts are exact integers; the only floats are two ratios, "
    "rounded. Scale: one explode pass over the corpus feeding two "
    "aggregation trees — per-(n,gram) wordcount for the type count "
    "(one shuffle on the gram key, partial map-side) and per-(doc,n) "
    "count-distinct (one doc-keyed shuffle, Spark's two-phase "
    "distinct rewrite) — no joins, no sample, no pair space; the "
    "classic wordcount profile at 100 TB.",
    # per_doc groups by doc_id while the Spark side computes each row's
    # ratio map-side: the two agree only because documents.doc_id is
    # unique (pinned in tests/test_dedup.py)
    oracle="""
        WITH g AS MATERIALIZED (
            SELECT doc_id, n, gram FROM (
                SELECT doc_id, n,
                       UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(w) - n + 1),
                              i -> ARRAY_TO_STRING(w[i:i+n-1], ' '))) AS gram
                FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
                     (SELECT UNNEST([1, 2, 3]) AS n) ns
                WHERE LEN(w) >= n
            )
        ), corpus AS (
            SELECT n, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
                   CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_ngrams
            FROM g GROUP BY n
        ), per_doc AS (
            SELECT doc_id, n,
                   COUNT(DISTINCT gram) / CAST(COUNT(*) AS DOUBLE) AS r
            FROM g GROUP BY doc_id, n
        )
        SELECT c.n, c.total_ngrams, c.distinct_ngrams,
               ROUND(c.distinct_ngrams / CAST(c.total_ngrams AS DOUBLE), 6)
                   AS distinct_ratio,
               (SELECT ROUND(AVG(r) + 0.0, 6) FROM per_doc p WHERE p.n = c.n)
                   AS mean_doc_distinct_ratio
        FROM corpus c
    """,
)
def t114_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = range(1, 4)
    toks = load_table(spark, "documents", sf_dir).selectExpr("split(text, ' ') AS t")
    # corpus-level distinctness genuinely needs the gram exchange; it
    # is the explode's only consumer, so the gram rows stream straight
    # into the aggregation instead of persisting corpus-scaled gram rows
    corpus = (
        toks.selectExpr(f"inline({ngrams_sql('t', orders)})")
        .groupBy("n")
        .agg(
            F.count("*").cast("bigint").alias("total_ngrams"),
            F.countDistinct("gram").cast("bigint").alias("distinct_ngrams"),
        )
    )
    # the per-DOC distinct ratio is a per-document reduction (the
    # minhash_sigs discipline): size(array_distinct) over each order's
    # gram array, map-side, with no (doc, n, gram) distinct exchange and
    # no (doc, n) agg exchange. Each gram array is bound once by its own
    # projection, so nothing re-tokenizes.
    stats = ", ".join(
        f"named_struct('n', {n}, 'tot', CAST(size(g{n}) AS BIGINT),"
        f" 'dist', CAST(size(array_distinct(g{n})) AS BIGINT))"
        for n in orders
    )
    per_doc = (
        toks.selectExpr(*[f"{grams_sql('t', n)} AS g{n}" for n in orders])
        .selectExpr(f"inline(array({stats}))")
        .filter("tot > 0")
        .groupBy("n")
        .agg(F.expr("round(avg(dist / CAST(tot AS DOUBLE)) + 0.0D, 6) AS mean_doc_distinct_ratio"))
    )
    return (
        corpus.join(F.broadcast(per_doc), "n")
        .select(
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams") / F.col("total_ngrams").cast("double"), 6
            ).alias("distinct_ratio"),
            "mean_doc_distinct_ratio",
        )
    )


# ---------------------------------------------------------------------------
# t115: blocklist safety gate (C4-style wordlist filter)
# ---------------------------------------------------------------------------

# Stand-in safety blocklist: two fixture tokens play the role of a
# real deny-list (C4 used the "List of Dirty, Naughty, Obscene..."
# wordlist; the MECHANICS — multiset hit counting, threshold verdict,
# map-only plan — are identical for any list).
_BLOCKLIST = ["slow", "error"]
_BLOCK_MAX_HITS = 2  # drop when hits exceed this (29% of the fixture drops)
_BL_SQL = ", ".join(f"'{t}'" for t in _BLOCKLIST)


@REGISTRY.register(
    name="t115_blocklist_filter",
    survey_ref="training-data (safety filtering; t2's quality gate and "
    "f29's PII scrub cover junk and leakage — this is the third "
    "standard pre-training gate, the content deny-list, C4 §2.1)",
    doc=f"wordlist safety gate: per document, the MULTISET count of "
    f"blocklist token occurrences (list {_BLOCKLIST} standing in for "
    "a real deny-list — the plan is list-agnostic) and the verdict "
    f"(drop when hits > {_BLOCK_MAX_HITS}; ~29% of the fixture drops, "
    "so both verdicts are exercised). Occurrence counting, not "
    "distinct-token: one slur in a 10k-token document and ten are "
    "different signals, which is why C4-style filters count hits. "
    "Scale: pure map-only column expression over the scan (filter + "
    "size on the split array, JVM whole-stage codegen, no UDF, no "
    "shuffle) — composes into pipeline_curation-style funnels as a "
    "pushed predicate.",
    oracle=f"""
        SELECT doc_id,
               CAST(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                    t -> t IN ({_BL_SQL}))) AS BIGINT) AS n_hits,
               CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                    t -> t IN ({_BL_SQL}))) > {_BLOCK_MAX_HITS}
                    THEN 'drop' ELSE 'keep' END AS verdict
        FROM documents
    """,
)
def t115_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    hits = blocklist_hits(F.col("text"))
    return docs.select(
        "doc_id",
        hits.alias("n_hits"),
        F.when(hits > _BLOCK_MAX_HITS, "drop").otherwise("keep").alias("verdict"),
    )


def blocklist_hits(text: Column) -> Column:
    """Occurrences of blocklist tokens among the lowercased words."""
    bl = F.array(*[F.lit(t) for t in _BLOCKLIST])
    return F.size(
        F.filter(F.split(F.lower(text), " "), lambda t: F.array_contains(bl, t))
    ).cast("bigint")


# ---------------------------------------------------------------------------
# pipeline_safety_card: the corpus-intake gate report
# ---------------------------------------------------------------------------

_SAFETY_Q_FLOOR = 0.5  # t2 quality floor used for the keep-rate line


def _safety_card_oracle() -> str:
    """Composes the four intake gates' registered SQL verbatim (the
    governance-card discipline)."""
    t2 = REGISTRY.specs["t2_quality_score"].oracle
    t3 = REGISTRY.specs["t3_langid"].oracle
    f29 = REGISTRY.specs["f29_pii_redaction"].oracle
    t115 = REGISTRY.specs["t115_blocklist_filter"].oracle
    return f"""
        SELECT family, metric, value FROM (
            SELECT 'quality' AS family, 'n_docs' AS metric,
                   CAST(COUNT(*) AS DOUBLE) AS value FROM ({t2})
            UNION ALL
            SELECT 'quality', 'keep_rate',
                   ROUND(AVG(CASE WHEN quality >= {_SAFETY_Q_FLOOR}
                                  THEN 1.0 ELSE 0.0 END) + 0.0, 6) FROM ({t2})
            UNION ALL
            SELECT 'langid', 'declared_match_rate',
                   ROUND(AVG(CASE WHEN lang_guess = lang THEN 1.0 ELSE 0.0 END)
                         + 0.0, 6) FROM ({t3})
            UNION ALL
            SELECT 'pii', 'docs_redacted',
                   CAST(SUM(CASE WHEN n_emails + n_numbers > 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) FROM ({f29})
            UNION ALL
            SELECT 'pii', 'total_redactions',
                   CAST(SUM(n_emails + n_numbers) AS DOUBLE) FROM ({f29})
            UNION ALL
            SELECT 'blocklist', 'drop_rate',
                   ROUND(AVG(CASE WHEN verdict = 'drop' THEN 1.0 ELSE 0.0 END)
                         + 0.0, 6) FROM ({t115})
            UNION ALL
            SELECT 'blocklist', 'total_hits',
                   CAST(SUM(n_hits) AS DOUBLE) FROM ({t115})
        )
        ORDER BY family, metric
    """


@REGISTRY.register(
    name="pipeline_safety_card",
    survey_ref="training-data (composed: t2 + t3 + f29 + t115 — the "
    "corpus-intake gate report; the governance-card discipline "
    "applied to the three standard pre-training gates plus langid)",
    doc="the intake report in ONE long-format table (family, metric, "
    f"value): quality keep rate at the {_SAFETY_Q_FLOOR} floor (t2), "
    "declared-language agreement rate (t3), PII redaction volume "
    "(f29 — docs touched + total redactions), and blocklist drop "
    "rate + hit volume (t115) — what a data lead reads before a "
    "crawl snapshot enters the curation funnel, and the numbers a "
    "safety review audits afterwards. Oracle composes the four "
    "parts' registered SQL verbatim; the Spark side reads documents "
    "once, selects the four gates' per-doc values with the column "
    "expressions t2, t3, f29 and t115 use (quality_score, lang_guess, "
    "pii_salted + n_matches, blocklist_hits), and reduces them in ONE "
    "aggregate whose row is stacked into the long format.",
    oracle=_safety_card_oracle(),
)
def pipeline_safety_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.col("text")
    per_doc = (
        load_table(spark, "documents", sf_dir)
        .select(
            quality_score(text).alias("quality"),
            (lang_guess(text) == F.col("lang")).alias("lang_match"),
            pii_salted(F.col("doc_id"), text).alias("salted"),
            blocklist_hits(text).alias("n_hits"),
        )
        .select(
            "quality",
            "lang_match",
            (n_matches(F.col("salted"), _EMAIL_RE) + n_matches(F.col("salted"), _NUM_RE)).alias(
                "n_pii"
            ),
            "n_hits",
        )
    )

    def rate(cond: str) -> str:
        return f"round(avg(CASE WHEN {cond} THEN 1.0D ELSE 0.0D END) + 0.0D, 6)"

    rows = {
        ("quality", "n_docs"): "CAST(count(*) AS DOUBLE)",
        ("quality", "keep_rate"): rate(f"quality >= {_SAFETY_Q_FLOOR}D"),
        ("langid", "declared_match_rate"): rate("lang_match"),
        ("pii", "docs_redacted"): "CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS DOUBLE)",
        ("pii", "total_redactions"): "CAST(sum(n_pii) AS DOUBLE)",
        ("blocklist", "drop_rate"): rate(f"n_hits > {_BLOCK_MAX_HITS}"),
        ("blocklist", "total_hits"): "CAST(sum(n_hits) AS DOUBLE)",
    }
    agg = per_doc.agg(*[F.expr(f"{e} AS {m}") for (_f, m), e in rows.items()])
    # one stack over the one aggregate row: a long_metrics call per
    # family would prune the aggregate to that family's columns, and
    # each of those four aggregates would scan documents again
    stacked = ", ".join(f"'{f}', '{m}', {m}" for f, m in rows)
    return agg.selectExpr(f"stack({len(rows)}, {stacked}) AS (family, metric, value)").orderBy(
        "family", "metric"
    )
