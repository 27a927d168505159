"""Scans, projections, filters, predicates — SURVEY.md §2.1–2.2.

The reference's scan surface is Cypher label scans and keyed lookups
(`neo4j_memory.py:245-289`), predicate filters on similarity scores and
null embeddings (`neo4j_rag.py:236-264`), category/equality filters
(`ui/backend/main.py:296-302`) and substring-membership topic routing
(`redpanda_activity.py:58-68`). Each maps to a declarative DataFrame
filter/projection so Catalyst pushes predicates and column pruning
into the parquet scan (check: `.explain` shows PushedFilters/ReadSchema).

Scale notes: point lookups (S2) on Iceberg tables prune files via
min/max stats + partition pruning, so `o_orderkey = k` touches one
file, not 100 TB. Projections (P1) prune the parquet ReadSchema to the
selected columns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table

REGISTRY = Registry()


# --- S1: full table scan -------------------------------------------------
@REGISTRY.register(
    name="s1_full_scan",
    survey_ref="S1",
    doc="Full label scan: MATCH (c:Conversation) RETURN c (neo4j_memory.py:279-289).",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def s1_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")


# --- S2: point lookup by key --------------------------------------------
@REGISTRY.register(
    name="s2_point_lookup",
    survey_ref="S2",
    doc="Keyed lookup: MATCH (c {workflow_id:$id}) (neo4j_memory.py:245-253). "
    "Pushed filter -> parquet row-group / Iceberg file skipping.",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey = 500
    """,
)
def s2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") == F.lit(500))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    )


# --- S3: filtered-count scan --------------------------------------------
@REGISTRY.register(
    name="s3_filtered_count",
    survey_ref="S3",
    doc="COUNT of nodes with non-null embedding (neo4j_rag.py:236-241).",
    oracle="SELECT CAST(COUNT(*) AS BIGINT) AS n_embedded FROM embeddings WHERE embedding IS NOT NULL",
)
def s3_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .agg(F.count("*").alias("n_embedded"))
    )


# --- P1: column projection / rename -------------------------------------
@REGISTRY.register(
    name="p1_projection_rename",
    survey_ref="P1",
    doc="node -> dict with selected/renamed fields (to_dict, neo4j_memory.py:47-55). "
    "Column pruning reaches the scan: ReadSchema lists only these columns.",
    oracle="""
        SELECT c_custkey AS customer_id, c_name AS name, c_mktsegment AS segment
        FROM customer
    """,
)
def p1_projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )


# --- P2: threshold predicate --------------------------------------------
@REGISTRY.register(
    name="p2_threshold_filter",
    survey_ref="P2",
    doc="WHERE score >= min_score (neo4j_rag.py:262-264).",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice >= 150000.0
    """,
)
def p2_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_totalprice") >= 150000.0)
        .select("o_orderkey", "o_totalprice")
    )


# --- P3: null / not-null predicate --------------------------------------
@REGISTRY.register(
    name="p3_notnull_filter",
    survey_ref="P3",
    doc="embedding IS NOT NULL (neo4j_rag.py:236-237) as a row filter.",
    oracle="""
        SELECT vec_id, label FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def p3_notnull_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "embeddings", sf_dir)
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "label")
    )


# --- P4: compound boolean predicate -------------------------------------
@REGISTRY.register(
    name="p4_compound_predicate",
    survey_ref="P4",
    doc="(a AND b) OR (c AND d) — label/key dispatch predicate (neo4j_memory.py:367-369).",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, l_quantity, l_discount
        FROM lineitem
        WHERE (l_returnflag = 'R' AND l_quantity > 45.0)
           OR (l_linestatus = 'F' AND l_discount < 0.02)
    """,
)
def p4_compound_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    cond = ((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 45.0)) | (
        (F.col("l_linestatus") == "F") & (F.col("l_discount") < 0.02)
    )
    return li.filter(cond).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus", "l_quantity", "l_discount"
    )


# --- P5: equality filter on category ------------------------------------
@REGISTRY.register(
    name="p5_category_equality",
    survey_ref="P5",
    doc="message_category == x AND content == y (ui/backend/main.py:296-302).",
    oracle="""
        SELECT event_id, user_id, event_type, value
        FROM events WHERE event_type = 'click' AND user_id = 7
    """,
)
def p5_category_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.filter((F.col("event_type") == "click") & (F.col("user_id") == 7)).select(
        "event_id", "user_id", "event_type", "value"
    )


# --- P6: substring-membership predicate ---------------------------------
@REGISTRY.register(
    name="p6_substring_routing",
    survey_ref="P6",
    doc='Topic routing: "clarification" in event_type (redpanda_activity.py:58-68).',
    oracle="""
        SELECT event_id, event_type FROM events
        WHERE event_type LIKE '%ur%' OR event_type LIKE '%ick%'
    """,
)
def p6_substring_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.filter(F.col("event_type").contains("ur") | F.col("event_type").contains("ick")).select(
        "event_id", "event_type"
    )


# --- P7: status-set predicate (negated isin) ----------------------------
@REGISTRY.register(
    name="p7_status_not_in",
    survey_ref="P7",
    doc="workflow status not in {completed, failed} (cli/run_interactive_research_workflow.py:43-49).",
    oracle="""
        SELECT o_orderkey, o_orderstatus FROM orders
        WHERE o_orderstatus NOT IN ('F')
    """,
)
def p7_status_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .filter(~F.col("o_orderstatus").isin("F"))
        .select("o_orderkey", "o_orderstatus")
    )


# --- P8: drop-null row filter -------------------------------------------
@REGISTRY.register(
    name="p8_drop_null_rows",
    survey_ref="P8",
    doc="discard failed searches: if result is not None (research_manager.py:468-471).",
    oracle="""
        SELECT doc_id, lang, source FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL
    """,
)
def p8_drop_null_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "documents", sf_dir)
        .na.drop(subset=["text", "lang"])
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# S10: column profiling (Deequ-style completeness/cardinality report)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderpriority"]


@REGISTRY.register(
    name="s10_column_profile",
    survey_ref="S-family extra (data-quality profiling)",
    doc="per-column profile of orders in long format: row count, null "
    "count, exact distinct cardinality, lexicographic min/max — the "
    "Deequ/Glue-style table profile every quality gate (m10) and FK "
    "audit reads first. ONE scan: all non-distinct metrics fold into "
    "a single agg; the per-column exact distincts each add a "
    "partial-aggregated expansion locally and swap for "
    "approx_count_distinct (one HLL pass, a8's family) at 100 TB — "
    "same report schema, same single-scan shape.",
    oracle="\n        UNION ALL\n".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def s10_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    aggs = []
    for c in _PROFILE_COLS:
        aggs.extend(
            [
                F.count("*").alias(f"{c}__n"),
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
                F.countDistinct(c).alias(f"{c}__distinct"),
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            ]
        )
    one = orders.agg(*aggs)
    metrics = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").cast("bigint").alias("n_rows"),
                F.col(f"{c}__nulls").cast("bigint").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("bigint").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return one.select(F.explode(metrics).alias("m")).select("m.*")


# ---------------------------------------------------------------------------
# S11: FK-inclusion profiling (key containment across tables)
# ---------------------------------------------------------------------------

_FK_CANDIDATES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    # deliberate NON-key pair: order keys are not customer keys — the
    # profiler must report partial inclusion, not assume
    ("orders", "o_orderkey", "customer", "c_custkey"),
]


@REGISTRY.register(
    name="s11_fk_inclusion",
    survey_ref="S-family extra (FK discovery profiling)",
    doc="foreign-key inclusion audit: for each candidate (child, "
    "parent) column pair, the fraction of distinct child values "
    "present in the parent — 1.0 certifies referential integrity "
    "(is_fk), anything lower quantifies orphaned keys; a planted "
    "non-key pair proves the profiler reports partial containment "
    "instead of assuming. Per pair: two distinct-key aggs + one "
    "left-semi-shaped join on DISTINCT sets only (never the fact "
    "rows); at 100 TB the parent key sets are dimension-sized "
    "broadcasts and the child distincts are a8's sketch family.",
    oracle="\n        UNION ALL\n".join(
        f"""
        SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
               CAST((SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS BIGINT)
                   AS n_child,
               CAST((SELECT COUNT(DISTINCT c.{cc}) FROM {ct} c
                     WHERE EXISTS (SELECT 1 FROM {pt} p
                                   WHERE p.{pc} = c.{cc})) AS BIGINT)
                   AS n_matched,
               ROUND((SELECT COUNT(DISTINCT c.{cc}) FROM {ct} c
                      WHERE EXISTS (SELECT 1 FROM {pt} p
                                    WHERE p.{pc} = c.{cc}))
                     / CAST((SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS DOUBLE),
                     4) AS inclusion,
               (SELECT COUNT(DISTINCT c.{cc}) FROM {ct} c
                WHERE EXISTS (SELECT 1 FROM {pt} p WHERE p.{pc} = c.{cc}))
                   = (SELECT COUNT(DISTINCT {cc}) FROM {ct}) AS is_fk
        """
        for ct, cc, pt, pc in _FK_CANDIDATES
    ),
)
def s11_fk_inclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for ct, cc, pt, pc in _FK_CANDIDATES:
        child = load_table(spark, ct, sf_dir).select(F.col(cc).alias("k")).distinct()
        parent = load_table(spark, pt, sf_dir).select(F.col(pc).alias("k")).distinct()
        matched = child.join(parent, "k", "left_semi")
        row = (
            child.agg(F.count("*").alias("n_child"))
            .crossJoin(F.broadcast(matched.agg(F.count("*").alias("n_matched"))))
            .select(
                F.lit(f"{ct}.{cc}").alias("child"),
                F.lit(f"{pt}.{pc}").alias("parent"),
                F.col("n_child").cast("bigint").alias("n_child"),
                F.col("n_matched").cast("bigint").alias("n_matched"),
                F.round(
                    F.col("n_matched") / F.col("n_child").cast("double"), 4
                ).alias("inclusion"),
                (F.col("n_matched") == F.col("n_child")).alias("is_fk"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# S12: subject-access inventory (GDPR Art. 15 export audit)
# ---------------------------------------------------------------------------

_SUBJECT_KEY = 7  # the data subject under audit (customer/user key)


@REGISTRY.register(
    name="s12_subject_access",
    survey_ref="S-family extra (data-subject inventory); m7/m13's governance sibling",
    doc=f"subject-access inventory for data subject key={_SUBJECT_KEY}: "
    "one row per table holding the subject's data — row count plus an "
    "order-independent content digest of the matching primary keys "
    "(u25's commutative md5-int sum) — the audit that backs both a "
    "GDPR Art. 15 export and the Art. 17 erasure verification (m7): "
    "re-run after deletion, every n_rows must hit 0. Direct tables "
    "filter on the subject key (partition/stats-prunable scans); "
    "lineitem reaches the subject through an orderkey semi-join "
    "against the subject's orders (dim-sized broadcast). No full "
    "scan is unpruned; at 100 TB each branch reads only the "
    "subject's partitions.",
    oracle=f"""
        WITH ords AS (
            SELECT o_orderkey FROM orders WHERE o_custkey = {_SUBJECT_KEY}
        )
        SELECT 'customer' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COALESCE(SUM(('0x' || SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 12))::BIGINT), 0) AS BIGINT) AS key_digest
        FROM customer WHERE c_custkey = {_SUBJECT_KEY}
        UNION ALL
        SELECT 'orders',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 12))::BIGINT), 0) AS BIGINT)
        FROM orders WHERE o_custkey = {_SUBJECT_KEY}
        UNION ALL
        SELECT 'lineitem',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(('0x' || SUBSTR(MD5(CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)), 1, 12))::BIGINT), 0) AS BIGINT)
        FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ords)
        UNION ALL
        SELECT 'events',
               CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 12))::BIGINT), 0) AS BIGINT)
        FROM events WHERE user_id = {_SUBJECT_KEY}
    """,
)
def s12_subject_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_custkey") == _SUBJECT_KEY
    )
    orders = load_table(spark, "orders", sf_dir).filter(
        F.col("o_custkey") == _SUBJECT_KEY
    )
    li = load_table(spark, "lineitem", sf_dir).join(
        F.broadcast(orders.select(F.col("o_orderkey").alias("l_orderkey"))),
        "l_orderkey",
        "left_semi",
    )
    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") == _SUBJECT_KEY)
    li_key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit("_"), F.col("l_linenumber").cast("string")
    )

    def inv_expr(df, name, key_expr):
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.coalesce(
                F.sum(F.conv(F.substring(F.md5(key_expr), 1, 12), 16, 10).cast("long")),
                F.lit(0),
            ).cast("bigint").alias("key_digest"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "key_digest")

    return (
        inv_expr(cust, "customer", F.col("c_custkey").cast("string"))
        .unionByName(inv_expr(orders, "orders", F.col("o_orderkey").cast("string")))
        .unionByName(inv_expr(li, "lineitem", li_key))
        .unionByName(inv_expr(ev, "events", F.col("event_id").cast("string")))
    )


# ---------------------------------------------------------------------------
# S13: multi-format round-trip (CSV / JSONL / ORC source breadth)
# ---------------------------------------------------------------------------

_RT_FORMATS = ("csv", "json", "orc")


@REGISTRY.register(
    name="s13_multiformat_roundtrip",
    survey_ref="S-family extra (source-format breadth)",
    doc="format round-trip audit: the nation table is staged to CSV "
    "(header, quoted), JSONL, and ORC, read back through each "
    "source's reader with an explicit schema, and reduced to a "
    "row-count + order-independent all-column digest per format — "
    "which must equal the parquet baseline row (hash-checked: the "
    "oracle recomputes the SAME digest from the parquet view for "
    "every format label, so any reader/writer that drops, reorders, "
    "mis-quotes, or retypes a value breaks the hash). A planted "
    "hostile row (embedded commas, double quotes, pipes, leading/"
    "trailing spaces) forces the CSV writer/reader through its "
    "quoting and escape paths — without it the fixture's clean "
    "strings would round-trip under a broken quoting config too. "
    "Map-only per format; the staging write is a 25-row dim.",
    oracle="""
        SELECT f.fmt AS format,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(('0x' || SUBSTR(MD5(
                   CAST(n_nationkey AS VARCHAR) || '|' || n_name || '|'
                   || CAST(n_regionkey AS VARCHAR)
               ), 1, 12))::BIGINT) AS BIGINT) AS content_digest
        FROM (SELECT n_nationkey, n_name, n_regionkey FROM nation
              UNION ALL
              SELECT 990, '  "quoted, name" | with, commas  ', 99) n
        CROSS JOIN (SELECT UNNEST(['parquet', 'csv', 'json', 'orc']) AS fmt) f
        GROUP BY f.fmt
    """,
)
def s13_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    nation = (
        load_table(spark, "nation", sf_dir)
        .select("n_nationkey", "n_name", "n_regionkey")
        .unionByName(
            spark.createDataFrame(
                [(990, '  "quoted, name" | with, commas  ', 99)],
                "n_nationkey long, n_name string, n_regionkey long",
            )
        )
    )
    schema = nation.schema
    base = tempfile.mkdtemp(prefix="roundtrip_")

    def digest_frame(df: DataFrame, fmt: str) -> DataFrame:
        row = F.concat_ws(
            "|",
            F.col("n_nationkey").cast("string"),
            "n_name",
            F.col("n_regionkey").cast("string"),
        )
        d = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("long")
        return df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(d).cast("bigint").alias("content_digest"),
        ).select(F.lit(fmt).alias("format"), "n_rows", "content_digest")

    out = digest_frame(nation, "parquet")
    for fmt in _RT_FORMATS:
        path = f"{base}/{fmt}"
        w = nation.write.mode("overwrite")
        if fmt == "csv":
            # the planted row caught Spark's CSV WRITER default:
            # ignore(Leading|Trailing)WhiteSpace=true silently trims
            # padded fields on write — flip both off so the relation,
            # not a trimmed copy, is what round-trips
            (w.option("header", "true")
             .option("ignoreLeadingWhiteSpace", "false")
             .option("ignoreTrailingWhiteSpace", "false")
             .csv(path))
            back = spark.read.schema(schema).option("header", "true").csv(path)
        elif fmt == "json":
            w.json(path)
            back = spark.read.schema(schema).json(path)
        else:
            w.orc(path)
            back = spark.read.schema(schema).orc(path)
        out = out.unionByName(digest_frame(back, fmt))
    return out


# ---------------------------------------------------------------------------
# S14: expectation-suite data-quality gate (declarative checks, one scan)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="s14_expectation_suite",
    survey_ref="S-family extra (declarative data-quality gate); s10's enforcer",
    doc="a Great-Expectations-style suite over lineitem, evaluated in "
    "ONE scan: key uniqueness ((orderkey, linenumber)), not-null "
    "rate, numeric bounds (quantity ∈ [1, 50], discount ∈ [0, 0.1]), "
    "accepted-values domain (returnflag ∈ {A,N,R}), and referential "
    "count sanity — each expectation a row with observed value, "
    "threshold, and verdict. s10 DESCRIBES columns; this ENFORCES "
    "contracts (the CI gate a 100 TB ingest runs before publish, "
    "m10's WAP with named, per-column rules). All checks fold into "
    "one multi-aggregate pass + a 2-column distinct count — no "
    "second scan, no per-check jobs.",
    oracle="""
        WITH s AS (
            SELECT COUNT(*) AS n,
                   COUNT(DISTINCT (l_orderkey, l_linenumber)) AS n_key,
                   COUNT(*) FILTER (WHERE l_quantity IS NULL
                                       OR l_extendedprice IS NULL) AS n_null,
                   COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS n_qty_oob,
                   COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS n_disc_oob,
                   COUNT(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')) AS n_flag_bad
            FROM lineitem
        )
        SELECT * FROM (
            SELECT 'key_unique' AS expectation,
                   ROUND(CAST(n_key AS DOUBLE) / n, 6) AS observed,
                   1.0 AS threshold, n_key = n AS ok FROM s
            UNION ALL
            SELECT 'not_null_rate', ROUND(1.0 - CAST(n_null AS DOUBLE) / n, 6),
                   1.0, n_null = 0 FROM s
            UNION ALL
            SELECT 'quantity_in_bounds', ROUND(1.0 - CAST(n_qty_oob AS DOUBLE) / n, 6),
                   1.0, n_qty_oob = 0 FROM s
            UNION ALL
            SELECT 'discount_in_bounds', ROUND(1.0 - CAST(n_disc_oob AS DOUBLE) / n, 6),
                   1.0, n_disc_oob = 0 FROM s
            UNION ALL
            SELECT 'returnflag_domain', ROUND(1.0 - CAST(n_flag_bad AS DOUBLE) / n, 6),
                   1.0, n_flag_bad = 0 FROM s
        ) t
    """,
)
def s14_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return expectation_suite(load_table(spark, "lineitem", sf_dir))


def expectation_suite(li: DataFrame) -> DataFrame:
    """s14's per-expectation rows over the lineitem table."""
    s = li.agg(
        F.count("*").alias("n"),
        F.countDistinct("l_orderkey", "l_linenumber").alias("n_key"),
        F.count(
            F.when(F.col("l_quantity").isNull() | F.col("l_extendedprice").isNull(), 1)
        ).alias("n_null"),
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("n_qty_oob"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
        ).alias("n_disc_oob"),
        F.count(
            F.when(~F.col("l_returnflag").isin("A", "N", "R"), 1)
        ).alias("n_flag_bad"),
    )
    # one row per expectation off the one aggregate row: (observed, ok)
    checks = {
        "key_unique": ("n_key / n", "n_key = n"),
        "not_null_rate": ("1D - n_null / n", "n_null = 0"),
        "quantity_in_bounds": ("1D - n_qty_oob / n", "n_qty_oob = 0"),
        "discount_in_bounds": ("1D - n_disc_oob / n", "n_disc_oob = 0"),
        "returnflag_domain": ("1D - n_flag_bad / n", "n_flag_bad = 0"),
    }
    rows = ", ".join(f"'{k}', round({obs}, 6), 1D, {ok}" for k, (obs, ok) in checks.items())
    return s.selectExpr(
        f"stack({len(checks)}, {rows}) AS (expectation, observed, threshold, ok)"
    )


# ---------------------------------------------------------------------------
# S15: data-freshness SLO monitor
# ---------------------------------------------------------------------------

_FRESH_SLO_HOURS = 24


@REGISTRY.register(
    name="s15_freshness_slo",
    survey_ref="S-family extra (pipeline freshness monitoring)",
    doc=f"per-feed freshness against a {_FRESH_SLO_HOURS}h SLO: each "
    "event_type's newest timestamp lags the LATEST ingested event "
    "(the wall-clock-free reference — policy stays replayable, "
    "m14's rule), with lag hours and the SLO verdict. At 100 TB max "
    "timestamps come from partition metadata (no scan); here it is "
    "one partial-agg pass + a broadcast 1-row max. The page an "
    "on-call loads first when a feed stalls.",
    oracle=f"""
        WITH per_feed AS (
            SELECT event_type, MAX(ts) AS newest FROM events GROUP BY event_type
        ), head AS (
            SELECT MAX(newest) AS head_ts FROM per_feed
        )
        SELECT p.event_type,
               CAST(p.newest AS VARCHAR) AS newest,
               ROUND(EPOCH(h.head_ts - p.newest) / 3600.0, 4) AS lag_hours,
               EPOCH(h.head_ts - p.newest) / 3600.0 <= {_FRESH_SLO_HOURS}
                   AS within_slo
        FROM per_feed p CROSS JOIN head h
    """,
)
def s15_freshness_slo(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    per_feed = ev.groupBy("event_type").agg(F.max("ts").alias("newest"))
    head = per_feed.agg(F.max("newest").alias("head_ts"))
    lag_h = (
        F.col("head_ts").cast("double") - F.col("newest").cast("double")
    ) / 3600.0
    return per_feed.crossJoin(F.broadcast(head)).select(
        "event_type",
        F.col("newest").cast("string").alias("newest"),
        F.round(lag_h, 4).alias("lag_hours"),
        (lag_h <= _FRESH_SLO_HOURS).alias("within_slo"),
    )


# ---------------------------------------------------------------------------
# S16: partition-layout planner (file sizing + skew audit before a write)
# ---------------------------------------------------------------------------

_S16_TARGET_BYTES = 128 * 1024 * 1024  # the classic 128 MiB target file


@REGISTRY.register(
    name="s16_partition_plan",
    survey_ref="S-family ops extra (layout planning; a14's write-side twin)",
    doc="partition-layout plan for writing `documents` partitioned by a "
    "candidate column: for each of (source, lang), the per-key row "
    "count spread (keys, max/mean rows, skew = max/mean), the "
    "estimated bytes per key from the actual text+id widths, and the "
    "128 MiB-target file count per largest key — the pre-write audit "
    "that decides whether a partition column produces the classic "
    "small-files problem (many tiny keys) or a skewed giant (one key "
    "holding most bytes, needing an intra-key split). Pure two-level "
    "aggregation: per-(col,key) partials then per-col rollup — the "
    "same fine-partials re-agg shape s14 uses; nothing corpus-sized "
    "crosses an exchange twice. At 100 TB this runs on a sample or "
    "on file-footer stats; the arithmetic is identical.",
    oracle=f"""
        WITH widths AS (
            SELECT source, lang,
                   LENGTH(text) + 16 AS row_bytes
            FROM documents
        ), by_key AS (
            SELECT 'source' AS part_col, source AS key,
                   COUNT(*) AS n_rows, SUM(row_bytes) AS n_bytes
            FROM widths GROUP BY source
            UNION ALL
            SELECT 'lang', lang, COUNT(*), SUM(row_bytes)
            FROM widths GROUP BY lang
        )
        SELECT part_col,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(n_rows) AS BIGINT) AS max_key_rows,
               CAST(SUM(n_rows) AS BIGINT) AS total_rows,
               ROUND(MAX(n_rows) / (SUM(n_rows) / CAST(COUNT(*) AS DOUBLE)), 4)
                   AS skew_ratio,
               CAST(MAX(n_bytes) AS BIGINT) AS max_key_bytes,
               CAST(CEIL(MAX(n_bytes) / CAST({_S16_TARGET_BYTES} AS DOUBLE))
                    AS BIGINT) AS files_for_largest_key,
               MAX(n_bytes) > {_S16_TARGET_BYTES} AS needs_intra_key_split,
               SUM(n_bytes) / COUNT(*) < {_S16_TARGET_BYTES} / 16
                   AS small_files_risk
        FROM by_key
        GROUP BY part_col
        ORDER BY part_col
    """,
)
def s16_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return partition_plan(load_table(spark, "documents", sf_dir))


def partition_plan(docs: DataFrame) -> DataFrame:
    """s16's per-candidate-column rows over the documents table."""
    # each row counts once under each candidate column: one groupBy
    by_key = (
        docs.selectExpr(
            "stack(2, 'source', source, 'lang', lang) AS (part_col, key)",
            "length(text) + 16 AS row_bytes",
        )
        .groupBy("part_col", "key")
        .agg(F.count("*").alias("n_rows"), F.sum("row_bytes").alias("n_bytes"))
    )
    tgt = float(_S16_TARGET_BYTES)
    return (
        by_key.groupBy("part_col")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.max("n_rows").cast("bigint").alias("max_key_rows"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.round(
                F.max("n_rows")
                / (F.sum("n_rows") / F.count("*").cast("double")),
                4,
            ).alias("skew_ratio"),
            F.max("n_bytes").cast("bigint").alias("max_key_bytes"),
            F.ceil(F.max("n_bytes") / F.lit(tgt)).cast("bigint").alias(
                "files_for_largest_key"
            ),
            (F.max("n_bytes") > _S16_TARGET_BYTES).alias("needs_intra_key_split"),
            (F.sum("n_bytes") / F.count("*") < _S16_TARGET_BYTES / 16).alias(
                "small_files_risk"
            ),
        )
        .orderBy("part_col")
    )


# ---------------------------------------------------------------------------
# S17: payload schema drift between deploy periods
# ---------------------------------------------------------------------------

_S17_BOUNDARY = "2024-01-16 00:00:00"  # the "deploy" splitting early/late


@REGISTRY.register(
    name="s17_props_schema_drift",
    survey_ref="S-family extra (contract drift over time; f36 checks rows, "
    "this checks the FLEET of keys between deploys)",
    doc="JSON payload schema drift across a deploy boundary: the props "
    "key-sets of the early and late halves of the event stream are "
    "profiled (fraction of rows carrying each key per period) and "
    "diffed — verdict added / removed / stable per key, with a "
    "planted post-deploy key (event_id%9==0 late rows gain "
    "'session_v2', in-query) proving the 'added' class fires on a "
    "fixture whose natural payloads never change shape. This is the "
    "audit that catches a producer silently changing its event "
    "contract mid-month — f36 validates each row against the KNOWN "
    "contract; this detects the contract itself moving. One "
    "key-explode + one (period, key) partial agg; key cardinality is "
    "O(contract), so everything after the scan is tiny.",
    oracle=f"""
        WITH salted AS (
            SELECT ts,
                   CASE WHEN ts >= TIMESTAMP '{_S17_BOUNDARY}' AND event_id % 9 = 0
                        THEN REPLACE(props, '}}', ', "session_v2": 1}}')
                        ELSE props END AS props
            FROM events
        ), periods AS (
            SELECT CASE WHEN ts < TIMESTAMP '{_S17_BOUNDARY}'
                        THEN 'early' ELSE 'late' END AS period,
                   props
            FROM salted
        ), totals AS (
            SELECT period, COUNT(*) AS n FROM periods GROUP BY period
        ), keys AS (
            SELECT period, UNNEST(json_keys(props)) AS key
            FROM periods
        ), per_key AS (
            SELECT period, key, COUNT(*) AS c FROM keys GROUP BY period, key
        ), wide AS (
            SELECT COALESCE(e.key, l.key) AS key,
                   ROUND(COALESCE(e.c, 0)
                         / (SELECT CAST(n AS DOUBLE) FROM totals WHERE period = 'early'),
                         6) AS pct_early,
                   ROUND(COALESCE(l.c, 0)
                         / (SELECT CAST(n AS DOUBLE) FROM totals WHERE period = 'late'),
                         6) AS pct_late
            FROM (SELECT key, c FROM per_key WHERE period = 'early') e
            FULL OUTER JOIN (SELECT key, c FROM per_key WHERE period = 'late') l
              ON e.key = l.key
        )
        SELECT key, pct_early, pct_late,
               CASE WHEN pct_early = 0 THEN 'added'
                    WHEN pct_late = 0 THEN 'removed'
                    ELSE 'stable' END AS verdict
        FROM wide ORDER BY key
    """,
)
def s17_props_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    boundary = F.lit(_S17_BOUNDARY).cast("timestamp")
    salted = ev.select(
        F.when(
            (F.col("ts") >= boundary) & (F.col("event_id") % 9 == 0),
            F.replace(F.col("props"), F.lit("}"), F.lit(', "session_v2": 1}')),
        )
        .otherwise(F.col("props"))
        .alias("props"),
        F.when(F.col("ts") < boundary, "early").otherwise("late").alias("period"),
    )
    totals = salted.groupBy("period").agg(F.count("*").alias("n"))
    per_key = (
        salted.select("period", F.explode(F.json_object_keys("props")).alias("key"))
        .groupBy("period", "key")
        .agg(F.count("*").alias("c"))
    )
    rates = (
        per_key.join(F.broadcast(totals), "period")
        .select("period", "key", (F.col("c") / F.col("n").cast("double")).alias("r"))
    )
    early = rates.filter(F.col("period") == "early").select(
        "key", F.col("r").alias("re")
    )
    late = rates.filter(F.col("period") == "late").select(
        "key", F.col("r").alias("rl")
    )
    wide = early.join(late, "key", "full_outer").select(
        "key",
        F.round(F.coalesce("re", F.lit(0.0)), 6).alias("pct_early"),
        F.round(F.coalesce("rl", F.lit(0.0)), 6).alias("pct_late"),
    )
    return wide.select(
        "key",
        "pct_early",
        "pct_late",
        F.when(F.col("pct_early") == 0, "added")
        .when(F.col("pct_late") == 0, "removed")
        .otherwise("stable")
        .alias("verdict"),
    ).orderBy("key")


# ---------------------------------------------------------------------------
# S18: zone-map skipping audit (why o6 z-orders and s16 plans layout)
# ---------------------------------------------------------------------------

_S18_FILE_ROWS = 200  # simulated file granule (l_orderkey DIV this = file id; 8+ files even at sf0.001)


@REGISTRY.register(
    name="s18_zonemap_audit",
    survey_ref="S-family extra (storage layout); s16 plans partition "
    "sizes — this measures what min/max footer stats actually SKIP, "
    "the number that justifies o6's z-order",
    doc="zone-map (parquet footer min/max) skipping audit: rows bucket "
    f"into simulated {_S18_FILE_ROWS}-key files by insertion order "
    "(l_orderkey DIV n — how an unsorted ingest lays out), per-file "
    "min/max zone maps are computed for a CLUSTERED column "
    "(l_orderkey itself) and an UNCLUSTERED one (l_shipdate), and a "
    "10%-selectivity range predicate on each is priced: files whose "
    "zone interval misses the predicate range are skippable. The "
    "clustered column skips ~90% of files, the unclustered one ~0% "
    "— THE measured argument for sort-on-write/z-order, with the "
    "correctness of skipping verified IN-QUERY (rows surviving in "
    "non-skipped files == rows surviving the full scan). One "
    "file-keyed partial agg builds the zone maps (at 100 TB this "
    "reads parquet footers, same arithmetic); the audit table is "
    "O(files).",
    oracle=f"""
        WITH filed AS (
            SELECT l_orderkey, EPOCH(l_shipdate) AS d,
                   l_orderkey // {_S18_FILE_ROWS} AS file_id
            FROM lineitem
        ), bounds AS (
            SELECT MIN(l_orderkey) AS k_lo,
                   MAX(l_orderkey) AS k_hi,
                   MIN(d) AS d_lo,
                   MAX(d) AS d_hi
            FROM filed
        ), pred AS (
            SELECT k_lo + (k_hi - k_lo) * 0.45 AS k_from,
                   k_lo + (k_hi - k_lo) * 0.55 AS k_to,
                   d_lo + (d_hi - d_lo) * 0.45 AS d_from,
                   d_lo + (d_hi - d_lo) * 0.55 AS d_to
            FROM bounds
        ), zones AS (
            SELECT file_id,
                   MIN(l_orderkey) AS zk_min, MAX(l_orderkey) AS zk_max,
                   MIN(d) AS zd_min, MAX(d) AS zd_max,
                   SUM(CASE WHEN l_orderkey >= (SELECT k_from FROM pred)
                             AND l_orderkey <= (SELECT k_to FROM pred)
                            THEN 1 ELSE 0 END) AS k_hits,
                   SUM(CASE WHEN d >= (SELECT d_from FROM pred)
                             AND d <= (SELECT d_to FROM pred)
                            THEN 1 ELSE 0 END) AS d_hits
            FROM filed GROUP BY file_id
        ), audit AS (
            SELECT 'clustered_orderkey' AS layout,
                   CAST(COUNT(*) AS BIGINT) AS n_files,
                   CAST(SUM(CASE WHEN zk_max < (SELECT k_from FROM pred)
                                   OR zk_min > (SELECT k_to FROM pred)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
                   CAST(SUM(CASE WHEN zk_max < (SELECT k_from FROM pred)
                                   OR zk_min > (SELECT k_to FROM pred)
                                 THEN k_hits ELSE 0 END) AS BIGINT)
                       AS rows_lost_by_skip
            FROM zones
            UNION ALL
            SELECT 'unclustered_shipdate',
                   CAST(COUNT(*) AS BIGINT),
                   CAST(SUM(CASE WHEN zd_max < (SELECT d_from FROM pred)
                                   OR zd_min > (SELECT d_to FROM pred)
                                 THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(SUM(CASE WHEN zd_max < (SELECT d_from FROM pred)
                                   OR zd_min > (SELECT d_to FROM pred)
                                 THEN d_hits ELSE 0 END) AS BIGINT)
            FROM zones
        )
        SELECT layout, n_files, n_skippable,
               ROUND(CAST(n_skippable AS DOUBLE) / n_files, 4) AS skip_rate,
               rows_lost_by_skip = 0 AS skipping_is_lossless
        FROM audit ORDER BY layout
    """,
)
def s18_zonemap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return zonemap_audit(load_table(spark, "lineitem", sf_dir))


def zonemap_audit(li: DataFrame) -> DataFrame:
    """s18's per-layout rows over the lineitem table."""
    filed = li.select(
        "l_orderkey",
        F.unix_timestamp("l_shipdate").cast("double").alias("d"),
        (F.col("l_orderkey") / _S18_FILE_ROWS).cast("bigint").alias("file_id"),
    )
    bounds = filed.agg(
        F.min("l_orderkey").alias("k_lo"),
        F.max("l_orderkey").alias("k_hi"),
        F.min("d").alias("d_lo"),
        F.max("d").alias("d_hi"),
    )
    pred = bounds.select(
        (F.col("k_lo") + (F.col("k_hi") - F.col("k_lo")) * 0.45).alias("k_from"),
        (F.col("k_lo") + (F.col("k_hi") - F.col("k_lo")) * 0.55).alias("k_to"),
        (F.col("d_lo") + (F.col("d_hi") - F.col("d_lo")) * 0.45).alias("d_from"),
        (F.col("d_lo") + (F.col("d_hi") - F.col("d_lo")) * 0.55).alias("d_to"),
    )
    zones = (
        filed.crossJoin(F.broadcast(pred))
        .groupBy("file_id")
        .agg(
            F.min("l_orderkey").alias("zk_min"),
            F.max("l_orderkey").alias("zk_max"),
            F.min("d").alias("zd_min"),
            F.max("d").alias("zd_max"),
            F.sum(
                F.when(
                    (F.col("l_orderkey") >= F.col("k_from"))
                    & (F.col("l_orderkey") <= F.col("k_to")),
                    1,
                ).otherwise(0)
            ).alias("k_hits"),
            F.sum(
                F.when(
                    (F.col("d") >= F.col("d_from")) & (F.col("d") <= F.col("d_to")),
                    1,
                ).otherwise(0)
            ).alias("d_hits"),
            F.first("k_from").alias("k_from"),
            F.first("k_to").alias("k_to"),
            F.first("d_from").alias("d_from"),
            F.first("d_to").alias("d_to"),
        )
    )
    k_skip = (F.col("zk_max") < F.col("k_from")) | (F.col("zk_min") > F.col("k_to"))
    d_skip = (F.col("zd_max") < F.col("d_from")) | (F.col("zd_min") > F.col("d_to"))
    # both layouts' counts in one aggregate, stacked into a row each
    audit = zones.agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum(F.when(k_skip, 1).otherwise(0)).cast("bigint").alias("k_skip"),
        F.sum(F.when(k_skip, F.col("k_hits")).otherwise(0)).cast("bigint").alias("k_lost"),
        F.sum(F.when(d_skip, 1).otherwise(0)).cast("bigint").alias("d_skip"),
        F.sum(F.when(d_skip, F.col("d_hits")).otherwise(0)).cast("bigint").alias("d_lost"),
    ).selectExpr(
        "n_files",
        "stack(2, 'clustered_orderkey', k_skip, k_lost, 'unclustered_shipdate', d_skip, "
        "d_lost) AS (layout, n_skippable, rows_lost_by_skip)",
    )
    return (
        audit.select(
            "layout",
            "n_files",
            "n_skippable",
            F.round(F.col("n_skippable").cast("double") / F.col("n_files"), 4).alias(
                "skip_rate"
            ),
            (F.col("rows_lost_by_skip") == 0).alias("skipping_is_lossless"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# S19: column-encoding advisor (completes the storage trio: s16 partitions,
# s18 zone maps, s19 encodings)
# ---------------------------------------------------------------------------

_S19_COLS = ("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
_S19_DICT_MAX_RATIO = 0.1  # distinct/total below this → dictionary
_S19_RLE_MIN_RUN = 2.0  # avg run length above this → RLE on top


@REGISTRY.register(
    name="s19_encoding_advisor",
    survey_ref="S-family extra (storage layout); s16 sizes partitions "
    "and s18 prices zone maps — this recommends the per-column "
    "ENCODING, the knob that decides whether a 100 TB table is "
    "actually 100 TB",
    doc="per-column encoding advisor over lineitem: distinct ratio "
    "(dictionary pays when the value space is small) and average "
    "run length measured WITHIN s18's simulated file granules "
    "(parquet encodes per page — runs never span files, so the "
    "per-bucket window is not just scale-safe but MORE faithful "
    "than a global scan), with the dict/rle_dict/plain verdict. The "
    "fixture has no physical row id, so 'insertion order' is proxied "
    "by a TOTAL key order over all columns — (orderkey, linenumber) "
    "alone has ~12k duplicate pairs at sf0.01 and an ambiguous sort "
    "makes run counts engine-dependent (caught at bring-up); rows "
    "still tied under the total order are identical, so their "
    "relative order cannot change any run count. "
    "l_orderkey's ~4-row runs (lineitems of one order are adjacent "
    "in insertion order) make it the RLE poster child; l_partkey is "
    "plain (unique-ish, no runs); l_returnflag is dictionary. One "
    "(bucket)-partitioned lag pass flags all four columns, one 1-row "
    "rollup counts them, and a stack emits a row per column.",
    oracle=f"""
        WITH filed AS (
            SELECT l_orderkey // 200 AS file_id,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey // 200
                                      ORDER BY l_orderkey, l_linenumber,
                                               l_partkey, l_suppkey,
                                               l_quantity, l_extendedprice,
                                               l_returnflag, l_linestatus,
                                               l_shipdate)
                       AS pos,
                   CAST(l_orderkey AS VARCHAR) AS c_orderkey,
                   CAST(l_partkey AS VARCHAR) AS c_partkey,
                   CAST(l_quantity AS VARCHAR) AS c_quantity,
                   l_returnflag AS c_returnflag
            FROM lineitem
        ), metrics AS (
            {" UNION ALL ".join(f'''
            SELECT '{c}' AS col,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(COUNT(DISTINCT v) AS DOUBLE) AS n_distinct,
                   SUM(new_run) AS n_runs
            FROM (SELECT c_{c.split("_", 1)[1]} AS v,
                         CASE WHEN c_{c.split("_", 1)[1]}
                                   = LAG(c_{c.split("_", 1)[1]}) OVER
                                     (PARTITION BY file_id ORDER BY pos)
                              THEN 0.0 ELSE 1.0 END AS new_run
                  FROM filed)''' for c in _S19_COLS)}
        )
        SELECT col,
               ROUND(n_distinct / n, 6) AS distinct_ratio,
               ROUND(n / n_runs, 4) AS avg_run_len,
               CASE WHEN n_distinct / n < {_S19_DICT_MAX_RATIO}
                         AND n / n_runs >= {_S19_RLE_MIN_RUN}
                    THEN 'rle_dict'
                    WHEN n_distinct / n < {_S19_DICT_MAX_RATIO} THEN 'dict'
                    ELSE 'plain' END AS encoding
        FROM metrics ORDER BY col
    """,
)
def s19_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return encoding_advisor(load_table(spark, "lineitem", sf_dir))


def encoding_advisor(li: DataFrame) -> DataFrame:
    """s19's per-column rows in one pass: one lag window in the total key
    order flags new runs (rows tied under it are identical, so no rank
    is needed), one aggregate counts all four columns, a stack splits
    its row per column."""
    from pyspark.sql import Window as W

    w = W.partitionBy((F.col("l_orderkey") / 200).cast("bigint")).orderBy(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    vals = {c: F.col(c).cast("string") for c in _S19_COLS}
    flagged = li.select(
        *[v.alias(c) for c, v in vals.items()],
        *[
            F.when(v == F.lag(v).over(w), 0.0).otherwise(1.0).alias(f"r_{c}")
            for c, v in vals.items()
        ],
    )
    totals = flagged.agg(
        F.count("*").cast("double").alias("n"),
        *[F.countDistinct(c).cast("double").alias(f"d_{c}") for c in _S19_COLS],
        *[F.sum(f"r_{c}").alias(f"r_{c}") for c in _S19_COLS],
    )
    rows = ", ".join(f"'{c}', d_{c}, r_{c}" for c in _S19_COLS)
    metrics = totals.selectExpr(
        "n", f"stack({len(_S19_COLS)}, {rows}) AS (col, n_distinct, n_runs)"
    )
    ratio = F.col("n_distinct") / F.col("n")
    run_len = F.col("n") / F.col("n_runs")
    return metrics.select(
        "col",
        F.round(ratio, 6).alias("distinct_ratio"),
        F.round(run_len, 4).alias("avg_run_len"),
        F.when(
            (ratio < _S19_DICT_MAX_RATIO) & (run_len >= _S19_RLE_MIN_RUN),
            "rle_dict",
        )
        .when(ratio < _S19_DICT_MAX_RATIO, "dict")
        .otherwise("plain")
        .alias("encoding"),
    ).orderBy("col")
