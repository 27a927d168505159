"""Mutations / upserts — SURVEY.md §2.8 (M1–M4).

Reference shapes: Cypher ``MERGE … ON CREATE SET … ON MATCH SET``
(`neo4j_memory.py:168-198`), point updates (`:213-233`,
`neo4j_rag.py:193-207`), append inserts (`neo4j_memory.py:358-431`),
idempotent check-then-insert linking (`:574-688`).

Production path: these are Iceberg ``MERGE INTO`` / ``UPDATE`` /
``writeTo(...).append()`` statements — row-level operations the
Iceberg Spark runtime executes with copy-on-write/merge-on-read file
rewrites and snapshot isolation. The Iceberg jar is not present in
this container (`session.iceberg_available`), so this module provides
the same semantics as pure DataFrame transformations (full-outer-join
merge, CASE-projection update, anti-join + union insert-if-absent)
that (a) are the *exact* relational definition of those statements and
(b) serve as the engine's emulation when no table format with
row-level ops is attached. The registered queries verify the
semantics against DuckDB SQL.

Scale notes: merge shuffles both sides by the merge key — the same
hash partitioning Iceberg's copy-on-write MERGE uses to co-locate
matches; with the target bucketed by key the shuffle drops out.
Anti-join insert guards broadcast the (small) candidate side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table, persist_once

REGISTRY = Registry()


# ---------------------------------------------------------------------------
# Reusable mutation primitives (the engine API)
# ---------------------------------------------------------------------------


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str],
) -> DataFrame:
    """MERGE INTO target USING source ON keys
    WHEN MATCHED THEN UPDATE SET update_cols = source values
    WHEN NOT MATCHED THEN INSERT *.

    Pure-DataFrame definition of Iceberg MERGE (M1,
    ref neo4j_memory.py:168-198). Source must carry all target columns.
    """
    t = target.alias("t")
    s = source.alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)
    joined = t.join(s, cond, "full_outer")
    out_cols: list[Column] = []
    for c in target.columns:
        if c in keys:
            out_cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
        elif c in update_cols:
            # matched -> source value; source-only -> source; target-only -> target
            out_cols.append(F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}")).alias(c))
        else:
            out_cols.append(F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c))
    return joined.select(*out_cols)


def update_where(target: DataFrame, cond: Column, assignments: dict[str, Column]) -> DataFrame:
    """UPDATE target SET assignments WHERE cond (M2, neo4j_memory.py:213-233)."""
    out = target
    for col_name, value in assignments.items():
        out = out.withColumn(col_name, F.when(cond, value).otherwise(F.col(col_name)))
    return out


def append_rows(target: DataFrame, rows: DataFrame) -> DataFrame:
    """Append insert (M3, neo4j_memory.py:358-431): writeTo(t).append() semantics."""
    return target.unionByName(rows, allowMissingColumns=True)


def insert_if_absent(target: DataFrame, candidates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Idempotent check-then-insert (M4, neo4j_memory.py:574-688):
    left-anti guard + union — MERGE … WHEN NOT MATCHED THEN INSERT."""
    fresh = candidates.join(target.select(*keys).distinct(), list(keys), "left_anti")
    return target.unionByName(fresh, allowMissingColumns=True)


def merge_into_table_sql(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str],
) -> None:
    """Live row-level MERGE INTO against a catalog table — the
    production path on Iceberg (M1, neo4j_memory.py:168-198). The
    generated statement is the SQL whose relational definition
    ``merge_into`` implements; when the Iceberg runtime is attached
    (session.iceberg_available) this executes with copy-on-write /
    merge-on-read file rewrites and snapshot isolation. Gated tests in
    tests/test_live_connectors.py run both paths and assert equality
    the day the jar appears."""
    view = "_merge_into_source"
    source.createOrReplaceTempView(view)
    on = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
    sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols)
    spark.sql(
        f"MERGE INTO {target_table} t USING {view} s ON {on} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries exercising the primitives on fixtures
# ---------------------------------------------------------------------------


def _merge_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic merge source derived from orders: keys <= 100 become
    updates (status 'U', +1000 price); keys <= 20 shifted by 10_000_000
    become inserts."""
    orders = load_table(spark, "orders", sf_dir)
    updates = orders.filter(F.col("o_orderkey") <= 100).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = orders.filter(F.col("o_orderkey") <= 20).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    return updates.unionByName(inserts)


@REGISTRY.register(
    name="m1_merge_upsert",
    survey_ref="M1",
    doc="MERGE (c {workflow_id}) ON CREATE SET … ON MATCH SET status "
    "(neo4j_memory.py:168-198) as a full-outer-join upsert; state after merge.",
    oracle="""
        WITH src AS (
            SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
            FROM orders WHERE o_orderkey <= 100
            UNION ALL
            SELECT o_orderkey + 10000000 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey <= 20
        )
        SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
               COALESCE(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
               COALESCE(s.o_totalprice, t.o_totalprice) AS o_totalprice
        FROM orders t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
    """,
)
def m1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    target = load_table(spark, "orders", sf_dir)
    source = _merge_source(spark, sf_dir)
    merged = merge_into(
        target, source, keys=["o_orderkey"], update_cols=["o_orderstatus", "o_totalprice"]
    )
    return merged.select("o_orderkey", "o_orderstatus", "o_totalprice")


@REGISTRY.register(
    name="m2_point_update",
    survey_ref="M2",
    doc="MATCH … SET c.status = $status (neo4j_memory.py:213-233) as a "
    "CASE-projection; state after update.",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_totalprice > 200000.0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders
    """,
)
def m2_point_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    updated = update_where(
        orders,
        F.col("o_totalprice") > 200000.0,
        {"o_orderstatus": F.lit("X")},
    )
    return updated.select("o_orderkey", "o_orderstatus", "o_totalprice")


@REGISTRY.register(
    name="m3_append_insert",
    survey_ref="M3",
    doc="CREATE (m:Message {...}) append (neo4j_memory.py:358-431); "
    "post-append state summarized per status.",
    oracle="""
        WITH appended AS (
            SELECT o_orderkey, o_orderstatus FROM orders
            UNION ALL
            SELECT o_orderkey + 20000000 AS o_orderkey, 'A' AS o_orderstatus
            FROM orders WHERE o_orderkey <= 50
        )
        SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM appended GROUP BY o_orderstatus
    """,
)
def m3_append_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderstatus")
    new_rows = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderkey") <= 50)
        .select(
            (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
            F.lit("A").alias("o_orderstatus"),
        )
    )
    appended = append_rows(orders, new_rows)
    return appended.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("o_orderkey").alias("key_sum")
    )


@REGISTRY.register(
    name="m4_insert_if_absent",
    survey_ref="M4",
    doc="idempotent link: semi-check then insert only if absent "
    "(neo4j_memory.py:574-688, ui/backend/main.py:296-318). Candidate links "
    "half-overlap the existing link table; re-inserting is a no-op.",
    oracle="""
        WITH links AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        ), candidates AS (
            SELECT l_orderkey, l_suppkey FROM links WHERE l_orderkey <= 200
            UNION ALL
            SELECT l_orderkey, l_suppkey + 1000 AS l_suppkey FROM links WHERE l_orderkey <= 200
        ), dedup_candidates AS (
            SELECT DISTINCT c.l_orderkey, c.l_suppkey FROM candidates c
            WHERE NOT EXISTS (SELECT 1 FROM links t
                              WHERE t.l_orderkey = c.l_orderkey AND t.l_suppkey = c.l_suppkey)
        )
        SELECT l_orderkey, l_suppkey FROM links
        UNION ALL
        SELECT l_orderkey, l_suppkey FROM dedup_candidates
    """,
)
def m4_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey").distinct()
    base = links.filter(F.col("l_orderkey") <= 200)
    candidates = (
        base.unionByName(
            base.select("l_orderkey", (F.col("l_suppkey") + 1000).alias("l_suppkey"))
        )
    ).distinct()
    return insert_if_absent(links, candidates, keys=["l_orderkey", "l_suppkey"])


# ---------------------------------------------------------------------------
# M6: SCD Type-2 versioned upsert
# ---------------------------------------------------------------------------

_SCD2_T0 = "2024-01-01"
_SCD2_T1 = "2024-06-01"


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: str,
    effective: str,
) -> DataFrame:
    """Slowly-changing-dimension type 2: apply an update batch to a
    versioned dimension, closing the current row of every changed key
    (valid_to = effective date) and opening a new current row.

    Contract: ``dim`` has (key, tracked, valid_from, valid_to) with
    valid_to NULL marking current rows; ``updates`` has (key, tracked).
    No-op updates (same tracked value) do NOT create a version — the
    standard SCD2 change-detection rule. Plan: one broadcast-able join
    of the update batch against current rows; history rows pass
    through untouched. On Iceberg this is the two-branch MERGE INTO
    (`WHEN MATCHED THEN UPDATE` close + appended inserts) — same
    relational definition, which is what the oracle checks.
    """
    current = dim.filter(F.col("valid_to").isNull())
    history = dim.filter(F.col("valid_to").isNotNull())
    # changed feeds closed + opened + the anti-join probe — persist the
    # (update-batch-sized) change set or the dim⋈updates join runs 3×
    changed = (
        current.alias("c")
        .join(F.broadcast(updates).alias("u"), key)
        .filter(F.col(f"c.{tracked}") != F.col(f"u.{tracked}"))
        .transform(persist_once)
    )
    closed = changed.select(
        key,
        F.col(f"c.{tracked}").alias(tracked),
        F.col("c.valid_from").alias("valid_from"),
        F.lit(effective).alias("valid_to"),
    )
    opened = changed.select(
        key,
        F.col(f"u.{tracked}").alias(tracked),
        F.lit(effective).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    unchanged = current.join(
        changed.select(key), key, "left_anti"
    )
    return history.unionByName(unchanged).unionByName(closed).unionByName(opened)


@REGISTRY.register(
    name="m6_scd2_upsert",
    survey_ref="M-family extra (temporal versioning)",
    doc="SCD Type-2 upsert over a customer dimension: an update batch "
    "(+100.00 to acctbal for custkey%10==0, effective "
    f"{_SCD2_T1}) closes each changed current row and opens a new one; "
    "unchanged keys pass through; validity dates are strings so both "
    "engines hash the same rendering. The Iceberg form is a two-branch "
    "MERGE INTO; the relational definition here is what the oracle "
    "verifies (same jar-gated pattern as M1-M4).",
    oracle=f"""
        WITH dim AS (
            SELECT c_custkey, ROUND(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
                   '{_SCD2_T0}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
            FROM customer
        ), updates AS (
            SELECT c_custkey, ROUND(CAST(c_acctbal AS DOUBLE) + 100.0, 2) AS acctbal
            FROM customer WHERE c_custkey % 10 = 0
        ), changed AS (
            SELECT d.c_custkey, d.acctbal AS old_bal, u.acctbal AS new_bal,
                   d.valid_from
            FROM dim d JOIN updates u ON d.c_custkey = u.c_custkey
            WHERE d.acctbal <> u.acctbal
        )
        SELECT c_custkey, old_bal AS acctbal, valid_from,
               '{_SCD2_T1}' AS valid_to FROM changed
        UNION ALL
        SELECT c_custkey, new_bal AS acctbal, '{_SCD2_T1}' AS valid_from,
               CAST(NULL AS VARCHAR) AS valid_to FROM changed
        UNION ALL
        SELECT d.c_custkey, d.acctbal, d.valid_from, d.valid_to
        FROM dim d WHERE NOT EXISTS (SELECT 1 FROM changed c
                                     WHERE c.c_custkey = d.c_custkey)
    """,
)
def m6_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scd2_customers(load_table(spark, "customer", sf_dir))


def scd2_customers(cust: DataFrame) -> DataFrame:
    """m6's versioned customer dimension; m6b reads it as of a date."""
    dim = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
        F.lit(_SCD2_T0).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        (F.round(F.col("c_acctbal").cast("double") + F.lit(100.0), 2)).alias("acctbal"),
    )
    return scd2_apply(dim, updates, key="c_custkey", tracked="acctbal", effective=_SCD2_T1)


# ---------------------------------------------------------------------------
# M7: retention TTL + user erasure (compliance deletes)
# ---------------------------------------------------------------------------

_RETAIN_CUTOFF = "2024-01-20 00:00:00"


def apply_retention(
    df: DataFrame, erased_users: DataFrame, cutoff: str = _RETAIN_CUTOFF
) -> DataFrame:
    """Surviving rows after compliance deletes: every row of an erased
    user goes (right-to-be-forgotten dominates), then anything older
    than the TTL cutoff. Map-only: the erasure list broadcasts into a
    left-anti join, the TTL is a pushed predicate. On Iceberg both are
    `DELETE FROM` (position/equality deletes); the audit twin
    (m7_retention_audit) is what the oracle checks."""
    return df.join(F.broadcast(erased_users), "user_id", "left_anti").filter(
        F.col("ts") >= F.lit(cutoff).cast("timestamp")
    )


@REGISTRY.register(
    name="m7_retention_audit",
    survey_ref="M-family extra (TTL + right-to-be-forgotten)",
    doc="compliance-delete audit over events: per event_type, rows "
    "kept, dropped by the TTL cutoff, and erased for the user-erasure "
    f"list (user_id%37==0; erasure dominates TTL). Cutoff "
    f"{_RETAIN_CUTOFF}. One conditional-aggregation scan — the "
    "before/after counts a DELETE FROM job must report; "
    "`apply_retention` is the surviving-table form (kept == its "
    "count, pinned in tests).",
    oracle=f"""
        SELECT event_type,
               CAST(SUM(CASE WHEN user_id % 37 <> 0 AND ts >= TIMESTAMP '{_RETAIN_CUTOFF}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN user_id % 37 <> 0 AND ts < TIMESTAMP '{_RETAIN_CUTOFF}'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_ttl_dropped,
               CAST(SUM(CASE WHEN user_id % 37 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_erased
        FROM events GROUP BY event_type
    """,
)
def m7_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_audit(load_table(spark, "events", sf_dir))


def retention_audit(ev: DataFrame) -> DataFrame:
    """m7's per-event_type rows over the events table."""
    erased = F.col("user_id") % 37 == 0
    ttl = F.col("ts") < F.lit(_RETAIN_CUTOFF).cast("timestamp")
    return ev.groupBy("event_type").agg(
        F.sum(F.when(~erased & ~ttl, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~erased & ttl, 1).otherwise(0)).alias("n_ttl_dropped"),
        F.sum(F.when(erased, 1).otherwise(0)).alias("n_erased"),
    )


_ASOF_DATE = "2024-07-01"  # after the m6 update batch took effect


@REGISTRY.register(
    name="m6b_asof_dimension",
    survey_ref="M-family extra (temporal point-in-time query)",
    doc=f"point-in-time dimension lookup over m6's SCD2 output: the "
    f"balance of every customer AS OF {_ASOF_DATE} (after the update "
    "batch), i.e. the version whose [valid_from, valid_to) interval "
    "covers the date — the query shape that makes SCD2 worth its "
    "storage. Map-only filter over the versioned table (on Iceberg: "
    "partition/zone pruning on valid_from).",
    oracle=f"""
        WITH dim AS (
            SELECT c_custkey, ROUND(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
                   '{_SCD2_T0}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
            FROM customer
        ), updates AS (
            SELECT c_custkey, ROUND(CAST(c_acctbal AS DOUBLE) + 100.0, 2) AS acctbal
            FROM customer WHERE c_custkey % 10 = 0
        ), changed AS (
            SELECT d.c_custkey, d.acctbal AS old_bal, u.acctbal AS new_bal,
                   d.valid_from
            FROM dim d JOIN updates u ON d.c_custkey = u.c_custkey
            WHERE d.acctbal <> u.acctbal
        ), versioned AS (
            SELECT c_custkey, old_bal AS acctbal, valid_from,
                   '{_SCD2_T1}' AS valid_to FROM changed
            UNION ALL
            SELECT c_custkey, new_bal, '{_SCD2_T1}', CAST(NULL AS VARCHAR) FROM changed
            UNION ALL
            SELECT d.c_custkey, d.acctbal, d.valid_from, d.valid_to
            FROM dim d WHERE NOT EXISTS (SELECT 1 FROM changed c
                                         WHERE c.c_custkey = d.c_custkey)
        )
        SELECT c_custkey, acctbal, valid_from
        FROM versioned
        WHERE valid_from <= '{_ASOF_DATE}'
          AND (valid_to IS NULL OR valid_to > '{_ASOF_DATE}')
    """,
)
def m6b_asof_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    versioned = scd2_customers(load_table(spark, "customer", sf_dir))
    return versioned.filter(
        (F.col("valid_from") <= _ASOF_DATE)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > _ASOF_DATE))
    ).select("c_custkey", "acctbal", "valid_from")


# ---------------------------------------------------------------------------
# M8: snapshot diff (CDC between two table versions)
# ---------------------------------------------------------------------------


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Change-data-capture diff of two snapshots of the same table:
    one row per changed key with change_type ∈ {insert, delete,
    update} and the old/new values of every compared column.

    This is the relational definition of an Iceberg changelog read
    (`CALL system.create_changelog_view` between two snapshot ids) —
    on Iceberg the engine serves it from metadata + changed data files
    only, never rescanning unchanged files. The fallback here is a
    full-outer join on the key: both sides hash-partition by key (the
    same co-location a bucketed layout gets for free), unchanged rows
    are dropped by a null-safe column comparison, and nothing wide
    crosses the exchange beyond the compared columns. Reference
    analog: the workflow resumes from Temporal event history by
    replaying only NEW events (interactive_research_workflow.py:197-207)
    — the delta, not the world.
    """
    o = old.alias("o")
    n = new.alias("n")
    # plain equality, not eqNullSafe: CDC keys are primary keys (never
    # null) and <=> join keys defeat bucketed co-location — with == the
    # bucketed layout joins with ZERO exchange
    # (tests/test_plans.py::test_bucketed_snapshot_diff_has_no_exchange)
    cond = None
    for k in keys:
        c = F.col(f"o.{k}") == F.col(f"n.{k}")
        cond = c if cond is None else (cond & c)
    joined = o.join(n, cond, "full_outer")
    old_present = F.col(f"o.{keys[0]}").isNotNull()
    new_present = F.col(f"n.{keys[0]}").isNotNull()
    same = None
    for c in compare_cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(old_present & ~new_present, "delete")
        .when(new_present & ~old_present, "insert")
        .when(~same, "update")
    )
    out_cols = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in keys]
    out_cols.append(change.alias("change_type"))
    for c in compare_cols:
        out_cols.append(F.col(f"o.{c}").alias(f"old_{c}"))
        out_cols.append(F.col(f"n.{c}").alias(f"new_{c}"))
    return joined.select(*out_cols).filter(F.col("change_type").isNotNull())


@REGISTRY.register(
    name="m8_snapshot_diff",
    survey_ref="M-family extra (CDC / changelog read)",
    bench=True,
    doc="snapshot-to-snapshot CDC over orders: day-1 state vs a "
    "simulated day-2 state (keys %17==3 deleted, %10==0 repriced "
    "+250.00, %23==5 cloned to new keys) → one row per changed key with "
    "change_type insert/delete/update and old/new totalprice. "
    "Relational definition of Iceberg's changelog view: full-outer "
    "join on the key, null-safe value compare, unchanged keys never "
    "emitted; with metadata-backed snapshots only changed files are "
    "even read.",
    oracle="""
        WITH snap0 AS (
            SELECT o_orderkey, ROUND(CAST(o_totalprice AS DOUBLE), 2) AS price
            FROM orders
        ), snap1 AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 10 = 0
                        THEN ROUND(CAST(o_totalprice AS DOUBLE), 2) + 250.0
                        ELSE ROUND(CAST(o_totalprice AS DOUBLE), 2) END AS price
            FROM orders WHERE o_orderkey % 17 <> 3
            UNION ALL
            SELECT o_orderkey + 10000000,
                   ROUND(CAST(o_totalprice AS DOUBLE), 2)
            FROM orders WHERE o_orderkey % 23 = 5
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN o.price <> n.price THEN 'update' END AS change_type,
               o.price AS old_o_totalprice,
               n.price AS new_o_totalprice
        FROM snap0 o FULL OUTER JOIN snap1 n ON o.o_orderkey = n.o_orderkey
        WHERE (n.o_orderkey IS NULL OR o.o_orderkey IS NULL OR o.price <> n.price)
    """,
)
def m8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orders_changelog(load_table(spark, "orders", sf_dir))[1]


def orders_changelog(orders: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(snap0, diff): the day-1 orders snapshot and m8's changelog to
    the simulated day-2 state; m8b applies the diff to this snap0."""
    snap0 = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice").cast("double"), 2).alias("o_totalprice"),
    )
    survivors = snap0.filter(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 0,
            F.col("o_totalprice") + 250.0,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    inserts = snap0.filter(F.col("o_orderkey") % 23 == 5).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"), "o_totalprice"
    )
    snap1 = survivors.unionByName(inserts)
    return snap0, snapshot_diff(
        snap0, snap1, keys=["o_orderkey"], compare_cols=["o_totalprice"]
    )


# ---------------------------------------------------------------------------
# M9: small-file compaction planning (table maintenance)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 5_000  # bin capacity in size units (stands in for 128 MB)


@REGISTRY.register(
    name="m9_compaction_plan",
    survey_ref="M-family extra (table maintenance / OPTIMIZE)",
    doc="small-file compaction planner: a per-partition file inventory "
    "(pseudo-files keyed by l_orderkey%40 per ship-month, sized by "
    "summed quantity) is bin-packed into rewrite groups — files at or "
    "above the target stay put (group -1); smaller files get "
    "group = floor(exclusive-running-size / target) in file order "
    "within their partition. This is the planning half of Iceberg "
    "rewrite_data_files / Delta OPTIMIZE binPack: one tiny inventory "
    "agg, then a per-partition window over the file list — partitions "
    "plan in parallel and the corpus itself is never reshuffled (at "
    "100 TB the inventory comes from the metadata tables, not a scan).",
    oracle=f"""
        WITH files AS (
            SELECT STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m') AS part_month,
                   l_orderkey % 40 AS file_id,
                   CAST(SUM(l_quantity) AS BIGINT) AS size_units
            FROM lineitem
            GROUP BY 1, 2
        ), cum AS (
            SELECT part_month, file_id, size_units,
                   SUM(CASE WHEN size_units < {_COMPACT_TARGET}
                            THEN size_units ELSE 0 END)
                       OVER (PARTITION BY part_month ORDER BY file_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS before_sz
            FROM files
        )
        SELECT part_month, file_id, size_units,
               CASE WHEN size_units >= {_COMPACT_TARGET} THEN CAST(-1 AS BIGINT)
                    ELSE CAST(COALESCE(before_sz, 0) // {_COMPACT_TARGET} AS BIGINT)
               END AS compaction_group
        FROM cum
    """,
)
def m9_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return compaction_plan(file_inventory(load_table(spark, "lineitem", sf_dir)))


def file_inventory(li: DataFrame) -> DataFrame:
    """(part_month, file_id, size_units): the simulated file list m9
    plans compaction on and m11 lists orphans against."""
    return li.groupBy(
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias("part_month"),
        (F.col("l_orderkey") % 40).alias("file_id"),
    ).agg(F.sum("l_quantity").cast("bigint").alias("size_units"))


def compaction_plan(files: DataFrame) -> DataFrame:
    """m9's per-file compaction groups over file_inventory's rows."""
    from pyspark.sql import Window as W

    # single pass: the running sum counts ONLY small files, so at-target
    # files ride through the same window (marked -1) instead of forcing
    # a second agg/scan through a union branch — one inventory shuffle,
    # one window, one lineitem scan.
    w = (
        W.partitionBy("part_month")
        .orderBy("file_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    small_sz = F.when(
        F.col("size_units") < _COMPACT_TARGET, F.col("size_units")
    ).otherwise(F.lit(0))
    before = F.coalesce(F.sum(small_sz).over(w), F.lit(0))
    return files.select(
        "part_month",
        "file_id",
        "size_units",
        F.when(F.col("size_units") >= _COMPACT_TARGET, F.lit(-1).cast("bigint"))
        .otherwise((before / _COMPACT_TARGET).cast("bigint"))
        .alias("compaction_group"),
    )


# ---------------------------------------------------------------------------
# M10: write-audit-publish gate
# ---------------------------------------------------------------------------

_WAP_CUTOFF = "2001-01-01"  # staging = orders on/after; production = before
_WAP_MAX_NULL_RATE = 0.01
_WAP_MAX_DOMAIN_VIOLATIONS = 0
_WAP_MAX_MEAN_DRIFT = 0.10  # |staging mean / prod mean - 1|
_WAP_MIN_ROW_FRACTION = 0.001  # staging must carry ≥ 0.1% of prod rows


@REGISTRY.register(
    name="m10_wap_audit",
    survey_ref="M-family extra (write-audit-publish gate)",
    doc="the audit half of write-audit-publish: a staged batch "
    f"(orders from {_WAP_CUTOFF}) is checked against production "
    "(orders before it) before any publish/branch-swap — row volume, "
    "null rate on the money column, status-domain violations, and "
    "mean-price drift, each emitted as (check, observed, threshold, "
    "ok). On Iceberg the staging side is a branch and publishing is a "
    "metadata fast-forward; the audit is the only part that reads "
    "data, and it is two single-pass partial aggs (one per side, "
    "pushdown-pruned to 3 columns) joined on nothing bigger than a "
    "broadcast 1-row stats frame. Gate discipline: a publish runs "
    "iff every row has ok=true.",
    oracle=f"""
        WITH prod AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   AVG(o_totalprice) AS mean_price
            FROM orders WHERE o_orderdate < '{_WAP_CUTOFF}'
        ), stg AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   AVG(o_totalprice) AS mean_price,
                   CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS DOUBLE)
                       / COUNT(*) AS null_rate,
                   CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN
                       ('F', 'O', 'P')) AS DOUBLE) AS domain_violations
            FROM orders WHERE o_orderdate >= '{_WAP_CUTOFF}'
        )
        SELECT * FROM (
            SELECT 'row_fraction' AS check_name,
                   ROUND(s.n / p.n, 6) AS observed,
                   {_WAP_MIN_ROW_FRACTION} AS threshold,
                   s.n / p.n >= {_WAP_MIN_ROW_FRACTION} AS ok
            FROM stg s, prod p
            UNION ALL
            SELECT 'null_rate', ROUND(s.null_rate, 6), {_WAP_MAX_NULL_RATE},
                   s.null_rate <= {_WAP_MAX_NULL_RATE} FROM stg s
            UNION ALL
            SELECT 'domain_violations', s.domain_violations,
                   {_WAP_MAX_DOMAIN_VIOLATIONS},
                   s.domain_violations <= {_WAP_MAX_DOMAIN_VIOLATIONS} FROM stg s
            UNION ALL
            SELECT 'mean_drift', ROUND(ABS(s.mean_price / p.mean_price - 1), 6),
                   {_WAP_MAX_MEAN_DRIFT},
                   ABS(s.mean_price / p.mean_price - 1) <= {_WAP_MAX_MEAN_DRIFT}
            FROM stg s, prod p
        ) checks
    """,
)
def m10_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    cutoff = F.lit(_WAP_CUTOFF).cast("timestamp")
    prod = orders.filter(F.col("o_orderdate") < cutoff).agg(
        F.count("*").cast("double").alias("p_n"),
        F.avg("o_totalprice").alias("p_mean"),
    )
    stg = orders.filter(F.col("o_orderdate") >= cutoff).agg(
        F.count("*").cast("double").alias("s_n"),
        F.avg("o_totalprice").alias("s_mean"),
        (
            F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).cast("double")
            / F.count("*")
        ).alias("null_rate"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("double")
        .alias("domain_violations"),
    )
    stats = stg.crossJoin(F.broadcast(prod))

    # one row → explode 4 check structs: the whole report is ONE plan
    # with one agg per side (a 4-way union would re-run both aggs per
    # branch — 8 exchanges instead of 2)
    frac = F.col("s_n") / F.col("p_n")
    drift = F.abs(F.col("s_mean") / F.col("p_mean") - 1)

    def check(name: str, observed, threshold: float, ok):
        return F.struct(
            F.lit(name).alias("check_name"),
            observed.cast("double").alias("observed"),
            F.lit(threshold).cast("double").alias("threshold"),
            ok.alias("ok"),
        )

    checks = F.array(
        check("row_fraction", F.round(frac, 6), _WAP_MIN_ROW_FRACTION,
              frac >= _WAP_MIN_ROW_FRACTION),
        check("null_rate", F.round(F.col("null_rate"), 6), _WAP_MAX_NULL_RATE,
              F.col("null_rate") <= _WAP_MAX_NULL_RATE),
        check("domain_violations", F.col("domain_violations"),
              float(_WAP_MAX_DOMAIN_VIOLATIONS),
              F.col("domain_violations") <= _WAP_MAX_DOMAIN_VIOLATIONS),
        check("mean_drift", F.round(drift, 6), _WAP_MAX_MEAN_DRIFT,
              drift <= _WAP_MAX_MEAN_DRIFT),
    )
    return stats.select(F.explode(checks).alias("c")).select(
        F.col("c.check_name").alias("check_name"),
        F.col("c.observed").alias("observed"),
        F.col("c.threshold").alias("threshold"),
        F.col("c.ok").alias("ok"),
    )


# ---------------------------------------------------------------------------
# M11: orphan-file detection (remove_orphan_files planning)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="m11_orphan_files",
    survey_ref="M-family extra (table maintenance / orphan cleanup)",
    doc="the planning half of Iceberg remove_orphan_files: the object-"
    "store listing is anti-joined against the metadata's referenced "
    "file set; anything listed but unreferenced (failed-write debris, "
    "aborted compactions) is an orphan slated for deletion. The "
    "simulated listing = m9's referenced inventory plus planted "
    "debris (file_id+1000 for file_id%7==0, mimicking retried "
    "writes); the plan is one broadcast anti-join per partition "
    "branch — at 100 TB the referenced set comes from metadata (KBs "
    "per partition) and broadcasts against the listing scan.",
    oracle=f"""
        WITH referenced AS (
            SELECT STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m') AS part_month,
                   l_orderkey % 40 AS file_id,
                   CAST(SUM(l_quantity) AS BIGINT) AS size_units
            FROM lineitem GROUP BY 1, 2
        ), listing AS (
            SELECT part_month, file_id, size_units FROM referenced
            UNION ALL
            SELECT part_month, file_id + 1000, CAST(0 AS BIGINT)
            FROM referenced WHERE file_id % 7 = 0
        )
        SELECT l.part_month, l.file_id
        FROM listing l
        WHERE NOT EXISTS (SELECT 1 FROM referenced r
                          WHERE r.part_month = l.part_month
                            AND r.file_id = l.file_id)
    """,
)
def m11_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    return orphan_files(file_inventory(load_table(spark, "lineitem", sf_dir)))


def orphan_files(files: DataFrame) -> DataFrame:
    """m11's orphan rows: the inventory plus planted debris, anti-joined
    against the inventory (read twice, so persisted)."""
    referenced = files.transform(persist_once)
    debris = referenced.filter(F.col("file_id") % 7 == 0).select(
        "part_month", (F.col("file_id") + 1000).alias("file_id"),
        F.lit(0).cast("bigint").alias("size_units"),
    )
    listing = referenced.unionByName(debris)
    return listing.join(
        F.broadcast(referenced.select("part_month", "file_id")),
        ["part_month", "file_id"],
        "left_anti",
    ).select("part_month", "file_id")


# ---------------------------------------------------------------------------
# M12: nightly maintenance plan (compaction + orphan cleanup composed)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="m12_maintenance_plan",
    survey_ref="M-family extra (composed table maintenance)",
    doc="the nightly-maintenance work list as ONE plan: every m9 "
    "compaction rewrite group collapsed to an action row (files to "
    "merge + bytes to rewrite) unioned with every m11 orphan as a "
    "delete action — what an Iceberg maintenance scheduler would "
    "submit, ordered by nothing (the driver hashes order-free). Both "
    "branches reuse the same file-inventory agg; the compaction "
    "branch adds only a tiny per-group rollup and the orphan branch "
    "a broadcast anti-join.",
    oracle=f"""
        WITH files AS (
            SELECT STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m') AS part_month,
                   l_orderkey % 40 AS file_id,
                   CAST(SUM(l_quantity) AS BIGINT) AS size_units
            FROM lineitem GROUP BY 1, 2
        ), cum AS (
            SELECT part_month, file_id, size_units,
                   SUM(CASE WHEN size_units < {_COMPACT_TARGET}
                            THEN size_units ELSE 0 END)
                       OVER (PARTITION BY part_month ORDER BY file_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS before_sz
            FROM files
        ), groups AS (
            SELECT part_month,
                   CAST(COALESCE(before_sz, 0) // {_COMPACT_TARGET} AS BIGINT)
                       AS item,
                   COUNT(*) AS n_files,
                   SUM(size_units) AS total_units
            FROM cum WHERE size_units < {_COMPACT_TARGET}
            GROUP BY 1, 2
        ), listing AS (
            SELECT part_month, file_id FROM files
            UNION ALL
            SELECT part_month, file_id + 1000 FROM files WHERE file_id % 7 = 0
        ), orphans AS (
            SELECT l.part_month, l.file_id FROM listing l
            WHERE NOT EXISTS (SELECT 1 FROM files r
                              WHERE r.part_month = l.part_month
                                AND r.file_id = l.file_id)
        )
        SELECT 'compact' AS action, part_month, item,
               CAST(n_files AS BIGINT) AS n_files,
               CAST(total_units AS BIGINT) AS total_units
        FROM groups WHERE n_files > 1
        UNION ALL
        SELECT 'delete_orphan', part_month, file_id, CAST(1 AS BIGINT),
               CAST(0 AS BIGINT)
        FROM orphans
    """,
)
def m12_maintenance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one inventory for both branches; orphan_files persists it
    files = file_inventory(load_table(spark, "lineitem", sf_dir))
    compact = (
        compaction_plan(files)
        .filter(F.col("compaction_group") >= 0)
        .groupBy("part_month", F.col("compaction_group").alias("item"))
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum("size_units").cast("bigint").alias("total_units"),
        )
        .filter(F.col("n_files") > 1)  # single-file groups are no-ops
        .select(
            F.lit("compact").alias("action"),
            "part_month",
            "item",
            "n_files",
            "total_units",
        )
    )
    orphans = orphan_files(files).select(
        F.lit("delete_orphan").alias("action"),
        "part_month",
        F.col("file_id").alias("item"),
        F.lit(1).cast("bigint").alias("n_files"),
        F.lit(0).cast("bigint").alias("total_units"),
    )
    return compact.unionByName(orphans)


# ---------------------------------------------------------------------------
# M8b: changelog apply (the CDC consumer)
# ---------------------------------------------------------------------------


def changelog_apply(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """Apply a snapshot_diff changelog to a base snapshot — the CDC
    CONSUMER: downstream replicas sync by applying the delta instead
    of re-copying the table. deletes drop, updates rewrite their
    value columns, inserts append; by construction
    ``changelog_apply(old, snapshot_diff(old, new)) ≡ new``
    (the round-trip law, property-tested). One key-partitioned left
    join against the (changed-keys-only) changelog plus a union of
    inserts — O(delta) work beyond the base scan, zero shuffles on a
    bucketed layout (m8's co-location carries over)."""
    ch = changes
    upd = ch.filter(F.col("change_type") == "update").select(
        *keys, *[F.col(f"new_{c}").alias(f"__new_{c}") for c in value_cols]
    )
    dels = ch.filter(F.col("change_type") == "delete").select(*keys)
    ins = ch.filter(F.col("change_type") == "insert").select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in value_cols]
    )
    kept = base.join(dels, list(keys), "left_anti")
    merged = kept.join(upd, list(keys), "left")
    for c in value_cols:
        merged = merged.withColumn(
            c, F.coalesce(F.col(f"__new_{c}"), F.col(c))
        ).drop(f"__new_{c}")
    return merged.unionByName(ins)


@REGISTRY.register(
    name="m8b_changelog_apply",
    survey_ref="M-family extra (CDC apply / replica sync)",
    doc="the consumer half of m8: applying the changelog to the day-1 "
    "snapshot reconstructs the day-2 snapshot exactly — how a "
    "downstream replica syncs at O(delta) cost instead of re-copying "
    "the table. The registered query materializes "
    "changelog_apply(snap0, m8's diff) and the oracle is simply the "
    "day-2 state's own definition, so the hash check IS the "
    "round-trip proof on the fixture (the property test generalizes "
    "it to arbitrary mutation sets).",
    oracle="""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0
                    THEN ROUND(CAST(o_totalprice AS DOUBLE), 2) + 250.0
                    ELSE ROUND(CAST(o_totalprice AS DOUBLE), 2) END
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 17 <> 3
        UNION ALL
        SELECT o_orderkey + 10000000, ROUND(CAST(o_totalprice AS DOUBLE), 2)
        FROM orders WHERE o_orderkey % 23 = 5
    """,
)
def m8b_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    snap0, diff = orders_changelog(load_table(spark, "orders", sf_dir))
    # the changelog is a diamond (update/delete/insert branches all
    # read it) — persist so the CDC join runs once, not three times
    return changelog_apply(
        snap0, diff.transform(persist_once), keys=["o_orderkey"], value_cols=["o_totalprice"]
    )


# ---------------------------------------------------------------------------
# m13: k-anonymity audit with generalization ladder
# ---------------------------------------------------------------------------

_KANON_K = 5
_KANON_BUCKETS = 16


@REGISTRY.register(
    name="m13_k_anonymity",
    survey_ref="M-family extra (privacy release audit); m7's governance sibling",
    doc=f"k-anonymity (Sweeney, IJUFKS 2002) audit before a data release: group events by the "
    f"quasi-identifier triple (event_type, day, user_id%{_KANON_BUCKETS}) "
    f"and require every group to hold ≥ k={_KANON_K} rows — singletons "
    "re-identify. Each violating group gets its ladder verdict: "
    "'generalize' when dropping the finest QI (the user bucket) lifts "
    "its group past k, 'suppress' when even the coarse group stays "
    "small. The m7 retention audit governs WHAT may be kept; this "
    "governs what may be PUBLISHED. Plan: one fine groupBy; the "
    "coarse counts are a re-agg of the fine PARTIALS (sum over "
    "buckets), not a second corpus scan; the verdict join broadcasts "
    "the coarse table (date×type-sized). At 100 TB the fine key space "
    "is uniform (day×type×bucket) — no skew, one shuffle. The fixture "
    "density varies with SF (sf0.001 has no fine group at k; sf0.01 "
    "has no small coarse group), so two planted slices are unioned "
    "in: a singleton 'debug' event (proves 'suppress') and six "
    "identical 'audit' events (proves 'keep') — t20's salting "
    "pattern, making all three ladder rungs fire at every SF.",
    oracle=f"""
        WITH salted AS (
            SELECT event_type, ts, user_id FROM events
            UNION ALL
            SELECT 'debug', TIMESTAMP '2030-01-01 00:00:00', 7
            UNION ALL
            SELECT 'audit', TIMESTAMP '2030-01-02 00:00:00', 9
            FROM GENERATE_SERIES(1, 6)
        ), fine AS (
            SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                   user_id % {_KANON_BUCKETS} AS user_bucket,
                   COUNT(*) AS n_fine
            FROM salted GROUP BY 1, 2, 3
        ), coarse AS (
            SELECT event_type, day, SUM(n_fine) AS n_coarse
            FROM fine GROUP BY 1, 2
        )
        SELECT f.event_type, f.day, f.user_bucket,
               CAST(f.n_fine AS BIGINT) AS n_fine,
               CAST(c.n_coarse AS BIGINT) AS n_coarse,
               CASE WHEN f.n_fine >= {_KANON_K} THEN 'keep'
                    WHEN c.n_coarse >= {_KANON_K} THEN 'generalize'
                    ELSE 'suppress' END AS action
        FROM fine f JOIN coarse c
          ON f.event_type = c.event_type AND f.day = c.day
    """,
)
def m13_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return k_anonymity(load_table(spark, "events", sf_dir))


def k_anonymity(ev: DataFrame) -> DataFrame:
    """m13's per-fine-group verdict rows over the events table."""
    ev = ev.select("event_type", "ts", "user_id")
    planted = [("debug", "2030-01-01 00:00:00", 7)] + [
        ("audit", "2030-01-02 00:00:00", 9)
    ] * 6
    rogue = ev.sparkSession.createDataFrame(
        planted, "event_type string, ts string, user_id long"
    ).select("event_type", F.col("ts").cast("timestamp").alias("ts"), "user_id")
    ev = ev.unionByName(rogue)
    fine = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").cast("string").alias("day"),
        (F.col("user_id") % _KANON_BUCKETS).alias("user_bucket"),
    ).agg(F.count("*").alias("n_fine"))
    coarse = fine.groupBy("event_type", "day").agg(
        F.sum("n_fine").alias("n_coarse")
    )
    return fine.join(F.broadcast(coarse), ["event_type", "day"]).select(
        "event_type",
        "day",
        "user_bucket",
        F.col("n_fine").cast("bigint").alias("n_fine"),
        F.col("n_coarse").cast("bigint").alias("n_coarse"),
        F.when(F.col("n_fine") >= _KANON_K, "keep")
        .when(F.col("n_coarse") >= _KANON_K, "generalize")
        .otherwise("suppress")
        .alias("action"),
    )


# ---------------------------------------------------------------------------
# m14: snapshot-expiry planning (expire_snapshots policy)
# ---------------------------------------------------------------------------

_EXPIRE_KEEP_LAST = 5  # always retain the N newest snapshots
_EXPIRE_DAYS = 14  # and everything newer than this many days before HEAD


@REGISTRY.register(
    name="m14_snapshot_expiry",
    survey_ref="M-family extra (metadata retention); completes m9/m11/m12",
    doc="the planning half of Iceberg expire_snapshots: a snapshot log "
    "(one pseudo-snapshot per event-day, sized by that day's rows) is "
    f"classified against the policy 'keep the {_EXPIRE_KEEP_LAST} "
    f"newest AND everything within {_EXPIRE_DAYS} days of HEAD' — "
    "older snapshots expire, with the reclaimable row count summed "
    "into the verdict. HEAD is the max snapshot day (no wall clock: "
    "the policy is replayable). The m9/m11 pattern: one tiny "
    "metadata-sized agg + one window over the snapshot list; the "
    "data itself is never touched (at 100 TB this reads the "
    "metadata.snapshots table, not a scan).",
    oracle=f"""
        WITH snaps AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS snap_day,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM events GROUP BY 1
        ), ranked AS (
            SELECT snap_day, n_rows,
                   ROW_NUMBER() OVER (ORDER BY snap_day DESC) AS rn,
                   (SELECT MAX(snap_day) FROM snaps) AS head_day
            FROM snaps
        )
        SELECT snap_day, n_rows,
               CAST(rn AS BIGINT) AS newest_rank,
               CASE WHEN rn <= {_EXPIRE_KEEP_LAST}
                         OR CAST(snap_day AS DATE)
                            >= CAST(head_day AS DATE) - INTERVAL {_EXPIRE_DAYS} DAY
                    THEN 'retain' ELSE 'expire' END AS action
        FROM ranked
    """,
)
def m14_snapshot_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    snaps = ev.groupBy(
        F.col("ts").cast("date").cast("string").alias("snap_day")
    ).agg(F.count("*").cast("bigint").alias("n_rows"))
    head = snaps.agg(F.max("snap_day").alias("head_day"))
    ranked = snaps.join(F.broadcast(head)).withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("snap_day")))
    )
    keep = (F.col("rn") <= _EXPIRE_KEEP_LAST) | (
        F.col("snap_day").cast("date")
        >= F.date_sub(F.col("head_day").cast("date"), _EXPIRE_DAYS)
    )
    return ranked.select(
        "snap_day",
        "n_rows",
        F.col("rn").cast("bigint").alias("newest_rank"),
        F.when(keep, "retain").otherwise("expire").alias("action"),
    )


# ---------------------------------------------------------------------------
# m15: incremental aggregate maintenance (IVM for a summary table)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="m15_incremental_agg",
    survey_ref="M-family extra (incremental view maintenance)",
    doc="incremental maintenance of a per-source summary (doc count + "
    "token total): starting from the aggregate over the base corpus "
    "(doc_id%10∉{3,7}), apply a change batch — inserts (doc_id%10=7) "
    "and deletes (doc_id%10=3... absent from base, so modeled as "
    "deletes OF base rows with doc_id%10=1) — as SIGNED DELTA "
    "PARTIALS merged into the old aggregate, never rescanning the "
    "base. The maintained result is verified row-for-row against a "
    "full recompute over (base − deletes + inserts) INSIDE the query "
    "(matches column), so the hash pins the IVM law old ⊕ Δ = "
    "recompute. m8b applies deltas to a BASE table; this applies them "
    "to its AGGREGATE — the O(Δ) summary-refresh every 100 TB "
    "dashboard depends on.",
    oracle="""
        WITH base AS (
            SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n_tok
            FROM documents WHERE doc_id % 10 NOT IN (3, 7)
        ), inserts AS (
            SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n_tok
            FROM documents WHERE doc_id % 10 = 7
        ), deletes AS (
            SELECT doc_id, source, n_tok FROM base WHERE doc_id % 10 = 1
        ), old_agg AS (
            SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
            FROM base GROUP BY source
        ), delta AS (
            SELECT source, SUM(dn) AS d_docs, SUM(dt) AS d_tokens
            FROM (
                SELECT source, 1 AS dn, n_tok AS dt FROM inserts
                UNION ALL
                SELECT source, -1, -n_tok FROM deletes
            ) GROUP BY source
        ), maintained AS (
            SELECT COALESCE(o.source, d.source) AS source,
                   COALESCE(o.n_docs, 0) + COALESCE(d.d_docs, 0) AS n_docs,
                   COALESCE(o.n_tokens, 0) + COALESCE(d.d_tokens, 0) AS n_tokens
            FROM old_agg o FULL OUTER JOIN delta d ON o.source = d.source
        ), recomputed AS (
            SELECT source, COUNT(*) AS n_docs, SUM(n_tok) AS n_tokens
            FROM (
                SELECT * FROM base
                WHERE doc_id NOT IN (SELECT doc_id FROM deletes)
                UNION ALL SELECT * FROM inserts
            ) GROUP BY source
        )
        SELECT m.source,
               CAST(m.n_docs AS BIGINT) AS n_docs,
               CAST(m.n_tokens AS BIGINT) AS n_tokens,
               (m.n_docs = r.n_docs AND m.n_tokens = r.n_tokens) AS matches
        FROM maintained m JOIN recomputed r ON m.source = r.source
    """,
)
def m15_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    base = docs.filter(~(F.col("doc_id") % 10).isin(3, 7))
    inserts = docs.filter(F.col("doc_id") % 10 == 7)
    deletes = base.filter(F.col("doc_id") % 10 == 1)
    old_agg = base.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    delta = (
        inserts.select("source", F.lit(1).alias("dn"), F.col("n_tok").alias("dt"))
        .unionByName(
            deletes.select("source", F.lit(-1).alias("dn"), (-F.col("n_tok")).alias("dt"))
        )
        .groupBy("source")
        .agg(F.sum("dn").alias("d_docs"), F.sum("dt").alias("d_tokens"))
    )
    maintained = (
        old_agg.join(delta, "source", "full_outer")
        .select(
            "source",
            (F.coalesce("n_docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0))).alias("n_docs"),
            (F.coalesce("n_tokens", F.lit(0)) + F.coalesce("d_tokens", F.lit(0))).alias(
                "n_tokens"
            ),
        )
    )
    recomputed = (
        base.join(deletes.select("doc_id"), "doc_id", "left_anti")
        .unionByName(inserts)
        .groupBy("source")
        .agg(F.count("*").alias("rn_docs"), F.sum("n_tok").alias("rn_tokens"))
    )
    return maintained.join(recomputed, "source").select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (
            (F.col("n_docs") == F.col("rn_docs"))
            & (F.col("n_tokens") == F.col("rn_tokens"))
        ).alias("matches"),
    )


# ---------------------------------------------------------------------------
# M16: bitemporal dimension (valid time × transaction time)
# ---------------------------------------------------------------------------

_BT_T0 = "2024-01-01"  # initial load (tx time)
_BT_V0 = "2024-01-01"  # initial validity start
_BT_V1 = "2024-01-15"  # batch-1 effective (valid time)
_BT_T1 = "2024-02-01"  # batch-1 recorded (tx time)
_BT_T2 = "2024-03-01"  # correction recorded (tx time)
_BT_VQ = "2024-01-20"  # readout: the valid-time point queried
_BT_TA = "2024-02-15"  # readout: belief BEFORE the correction landed
_BT_TB = "2024-03-15"  # readout: belief AFTER


def bitemporal_dim(cust: DataFrame) -> DataFrame:
    """Build the bitemporal customer-balance dimension: every row
    carries BOTH a validity interval [valid_from, valid_to) (when the
    fact was true in the world) and a transaction interval
    [tx_from, tx_to) (when the system believed it). Batch 1 (tx
    _BT_T1) applies +100 effective _BT_V1 for custkey%10==0 — an
    ordinary SCD2 split, but bitemporally the superseded open row is
    kept with its tx interval CLOSED rather than rewritten. Batch 2
    (tx _BT_T2) RETROACTIVELY corrects custkey%20==0 to +150 for the
    SAME valid period — the late-arriving restatement m6's
    single-axis SCD2 cannot represent (it would overwrite history).
    Pure unions + map-side predicates; at 100 TB each batch appends
    rows and closes tx_to on a key-matched subset (an Iceberg MERGE),
    never rewriting untouched rows."""
    base = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal").cast("double"), 2).alias("bal"),
    )
    upd = F.col("c_custkey") % 10 == 0
    corr = F.col("c_custkey") % 20 == 0
    ns = F.lit(None).cast("string")
    # untouched keys: one open-open row
    r_plain = base.filter(~upd).select(
        "c_custkey", F.col("bal").alias("acctbal"),
        F.lit(_BT_V0).alias("valid_from"), ns.alias("valid_to"),
        F.lit(_BT_T0).alias("tx_from"), ns.alias("tx_to"),
    )
    # updated keys: superseded original (tx-closed at T1) + the split
    r_old = base.filter(upd).select(
        "c_custkey", F.col("bal").alias("acctbal"),
        F.lit(_BT_V0).alias("valid_from"), ns.alias("valid_to"),
        F.lit(_BT_T0).alias("tx_from"), F.lit(_BT_T1).alias("tx_to"),
    )
    r_split_a = base.filter(upd).select(
        "c_custkey", F.col("bal").alias("acctbal"),
        F.lit(_BT_V0).alias("valid_from"), F.lit(_BT_V1).alias("valid_to"),
        F.lit(_BT_T1).alias("tx_from"), ns.alias("tx_to"),
    )
    r_split_b = base.filter(upd).select(
        "c_custkey", F.round(F.col("bal") + 100.0, 2).alias("acctbal"),
        F.lit(_BT_V1).alias("valid_from"), ns.alias("valid_to"),
        F.lit(_BT_T1).alias("tx_from"),
        F.when(corr, F.lit(_BT_T2)).otherwise(ns).alias("tx_to"),
    )
    r_corr = base.filter(corr).select(
        "c_custkey", F.round(F.col("bal") + 150.0, 2).alias("acctbal"),
        F.lit(_BT_V1).alias("valid_from"), ns.alias("valid_to"),
        F.lit(_BT_T2).alias("tx_from"), ns.alias("tx_to"),
    )
    return (
        r_plain.unionByName(r_old)
        .unionByName(r_split_a)
        .unionByName(r_split_b)
        .unionByName(r_corr)
    )


def bitemporal_asof(
    dim: DataFrame, valid_at: str, tx_at: str, key: str = "c_custkey"
) -> DataFrame:
    """Point-in-time read on both axes: the row whose validity interval
    covers ``valid_at`` AS BELIEVED at transaction time ``tx_at``.
    Both predicates are map-side interval containment — partition the
    dimension by tx_from month and the scan prunes."""
    return dim.filter(
        (F.col("valid_from") <= valid_at)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > valid_at))
        & (F.col("tx_from") <= tx_at)
        & (F.col("tx_to").isNull() | (F.col("tx_to") > tx_at))
    ).select(key, "acctbal")


@REGISTRY.register(
    name="m16_bitemporal",
    survey_ref="M-family extra (bitemporal versioning); m6 tracks ONE "
    "time axis — this adds transaction time, the axis a restatement "
    "audit needs",
    doc="bitemporal dimension + the two-axis point read that justifies "
    "it: after an ordinary update (tx 2024-02-01, +100 effective "
    "2024-01-15) and a RETROACTIVE correction (tx 2024-03-01, "
    "restating the same valid period to +150 for custkey%20==0), "
    "the query asks the same valid-time question ('what was the "
    "balance effective 2024-01-20?') at two transaction times — "
    "before and after the correction landed. Corrected keys show "
    "believed_then ≠ believed_now with restated=true; "
    "batch-1-only keys are the in-query control (restated=false). "
    "THE audit shape for 'what did the model see when it trained' "
    "and for financial restatements. Output bounded to the updated "
    "keys; both as-of reads are map-side interval containment over "
    "the same five-way-union dimension.",
    oracle=f"""
        WITH base AS (
            SELECT c_custkey, ROUND(CAST(c_acctbal AS DOUBLE), 2) AS bal
            FROM customer
        ), dim AS (
            SELECT c_custkey, bal AS acctbal,
                   '{_BT_V0}' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
                   '{_BT_T0}' AS tx_from, CAST(NULL AS VARCHAR) AS tx_to
            FROM base WHERE c_custkey % 10 <> 0
            UNION ALL
            SELECT c_custkey, bal, '{_BT_V0}', NULL, '{_BT_T0}', '{_BT_T1}'
            FROM base WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey, bal, '{_BT_V0}', '{_BT_V1}', '{_BT_T1}', NULL
            FROM base WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey, ROUND(bal + 100.0, 2), '{_BT_V1}', NULL,
                   '{_BT_T1}',
                   CASE WHEN c_custkey % 20 = 0 THEN '{_BT_T2}' END
            FROM base WHERE c_custkey % 10 = 0
            UNION ALL
            SELECT c_custkey, ROUND(bal + 150.0, 2), '{_BT_V1}', NULL,
                   '{_BT_T2}', NULL
            FROM base WHERE c_custkey % 20 = 0
        ), then_read AS (
            SELECT c_custkey, acctbal FROM dim
            WHERE valid_from <= '{_BT_VQ}'
              AND (valid_to IS NULL OR valid_to > '{_BT_VQ}')
              AND tx_from <= '{_BT_TA}'
              AND (tx_to IS NULL OR tx_to > '{_BT_TA}')
        ), now_read AS (
            SELECT c_custkey, acctbal FROM dim
            WHERE valid_from <= '{_BT_VQ}'
              AND (valid_to IS NULL OR valid_to > '{_BT_VQ}')
              AND tx_from <= '{_BT_TB}'
              AND (tx_to IS NULL OR tx_to > '{_BT_TB}')
        )
        SELECT t.c_custkey,
               t.acctbal AS believed_then,
               n.acctbal AS believed_now,
               t.acctbal <> n.acctbal AS restated
        FROM then_read t JOIN now_read n USING (c_custkey)
        WHERE t.c_custkey % 10 = 0
        ORDER BY t.c_custkey
    """,
)
def m16_bitemporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    dim = bitemporal_dim(cust)
    then_read = bitemporal_asof(dim, _BT_VQ, _BT_TA).withColumnRenamed(
        "acctbal", "believed_then"
    )
    now_read = bitemporal_asof(dim, _BT_VQ, _BT_TB).withColumnRenamed(
        "acctbal", "believed_now"
    )
    return (
        then_read.join(now_read, "c_custkey")
        .filter(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "believed_then",
            "believed_now",
            (F.col("believed_then") != F.col("believed_now")).alias("restated"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# M17: differentially-private aggregate release (governance family)
# ---------------------------------------------------------------------------

_DP_EPSILON = 1.0  # privacy budget for the released counts
_DP_MIN_K = 10  # suppress groups smaller than this before noising


@REGISTRY.register(
    name="m17_dp_release",
    survey_ref="governance extra (m13 generalizes quasi-identifiers; "
    "this releases AGGREGATES under an epsilon budget — the other "
    "half of a privacy program)",
    doc=f"ε-differentially-private count release (ε={_DP_EPSILON}, "
    "Laplace mechanism, sensitivity 1) over per-type event counts, "
    f"with k-suppression (k={_DP_MIN_K}) BEFORE noising so tiny "
    "groups never appear at all. Noise is Laplace via inverse-CDF "
    "over a DETERMINISTIC md5-seeded uniform — this pins the whole "
    "release pipeline (suppression, clamping at 0, noise magnitude) "
    "under the oracle hash; a production release swaps the seeded "
    "uniform for a real RNG and NOTHING else changes (the noise "
    "column is the only nondeterministic input, exactly like v1's "
    "provider seam). true_count rides along as the audit column the "
    "privacy officer compares (never published). One partial-agg "
    "shuffle; everything after is a bounded-type-table expression.",
    oracle=f"""
        WITH counts AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS true_count
            FROM events GROUP BY event_type
            HAVING COUNT(*) >= {_DP_MIN_K}
        ), seeded AS (
            SELECT event_type, true_count,
                   ('0x' || SUBSTR(MD5(event_type), 1, 8))::BIGINT
                       / 4294967296.0 AS u
            FROM counts
        ), noised AS (
            SELECT event_type, true_count,
                   -(1.0 / {_DP_EPSILON}) * SIGN(u - 0.5)
                       * LN(1.0 - 2.0 * ABS(u - 0.5)) AS noise
            FROM seeded
        )
        SELECT event_type,
               true_count,
               CAST(GREATEST(0, CAST(ROUND(true_count + noise, 0) AS BIGINT))
                   AS BIGINT) AS released_count,
               ROUND(noise, 4) AS noise,
               {_DP_EPSILON} AS epsilon
        FROM noised ORDER BY event_type
    """,
)
def m17_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    counts = (
        ev.groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("true_count"))
        .filter(F.col("true_count") >= _DP_MIN_K)
    )
    u = F.conv(F.substring(F.md5("event_type"), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)
    noise = (
        -(1.0 / _DP_EPSILON)
        * F.signum(u - 0.5)
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return (
        counts.withColumn("noise", noise)
        .select(
            "event_type",
            "true_count",
            F.greatest(
                F.lit(0), F.round(F.col("true_count") + F.col("noise"), 0).cast("bigint")
            )
            .cast("bigint")
            .alias("released_count"),
            F.round("noise", 4).alias("noise"),
            F.lit(_DP_EPSILON).alias("epsilon"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# M18: column masking policy (pseudonymize PII, keep joinability)
# ---------------------------------------------------------------------------

_M18_COLS = ("c_name", "c_mktsegment")
_M18_FREQ_RISK = 25  # fewer distincts than this → frequency attack


def mask_column(col: Column) -> Column:
    """Deterministic pseudonym: 'p_' + 12 hex of md5 — the same input
    always masks to the same token, so masked tables still join/group
    on the column (the property ad-hoc NULL-ing destroys); the raw
    value is unrecoverable without the (absent) lookup table."""
    return F.concat(F.lit("p_"), F.substring(F.md5(col.cast("string")), 1, 12))


@REGISTRY.register(
    name="m18_column_masking",
    survey_ref="governance extra; f29 redacts PII inside TEXT, m13 "
    "generalizes quasi-identifiers — this is the COLUMN-level "
    "masking policy an analyst role reads through, with the "
    "joinability contract AND the frequency-attack caveat verified",
    doc="column-masking audit over customer columns: each masks to a "
    "deterministic md5 pseudonym, and the audit verifies per column "
    "(a) ZERO masked values leak (masked ≠ raw everywhere), (b) "
    "joinability holds — distinct masked count equals distinct raw "
    "count (injective on the data; same entity still groups/joins), "
    f"and (c) freq_attack_risk: fewer than {_M18_FREQ_RISK} "
    "distincts means frequency analysis re-identifies the masked "
    "values regardless of the hash (c_mktsegment's 5 segments flag "
    "true, c_name's high cardinality doesn't) — determinstic "
    "masking preserves JOINS, not ANONYMITY, and the audit says "
    "which column gets which guarantee. Masking is map-only; the "
    "audit is one aggregate per column over the scan. At 100 TB "
    "this IS the analyst-facing view definition.",
    oracle=f"""
        SELECT col,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_distinct_raw AS BIGINT) AS n_distinct_raw,
               CAST(n_distinct_masked AS BIGINT) AS n_distinct_masked,
               n_distinct_raw = n_distinct_masked AS joinable,
               n_leaks = 0 AS no_leaks,
               n_distinct_raw < {_M18_FREQ_RISK} AS freq_attack_risk
        FROM (
            SELECT 'c_name' AS col, COUNT(*) AS n_rows,
                   COUNT(DISTINCT c_name) AS n_distinct_raw,
                   COUNT(DISTINCT 'p_' || SUBSTR(MD5(c_name), 1, 12))
                       AS n_distinct_masked,
                   SUM(CASE WHEN 'p_' || SUBSTR(MD5(c_name), 1, 12) = c_name
                            THEN 1 ELSE 0 END) AS n_leaks
            FROM customer
            UNION ALL
            SELECT 'c_mktsegment', COUNT(*), COUNT(DISTINCT c_mktsegment),
                   COUNT(DISTINCT 'p_' || SUBSTR(MD5(c_mktsegment), 1, 12)),
                   SUM(CASE WHEN 'p_' || SUBSTR(MD5(c_mktsegment), 1, 12)
                                = c_mktsegment THEN 1 ELSE 0 END)
            FROM customer
        ) ORDER BY col
    """,
)
def m18_column_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    parts = []
    for c in _M18_COLS:
        masked = mask_column(F.col(c))
        parts.append(
            cust.agg(
                F.lit(c).alias("col"),
                F.count("*").cast("bigint").alias("n_rows"),
                F.countDistinct(c).cast("bigint").alias("n_distinct_raw"),
                F.countDistinct(masked).cast("bigint").alias("n_distinct_masked"),
                F.sum(F.when(masked == F.col(c), 1).otherwise(0)).alias("n_leaks"),
            )
        )
    out = parts[0].unionByName(parts[1])
    return out.select(
        "col",
        "n_rows",
        "n_distinct_raw",
        "n_distinct_masked",
        (F.col("n_distinct_raw") == F.col("n_distinct_masked")).alias("joinable"),
        (F.col("n_leaks") == 0).alias("no_leaks"),
        (F.col("n_distinct_raw") < _M18_FREQ_RISK).alias("freq_attack_risk"),
    ).orderBy("col")


# ---------------------------------------------------------------------------
# M19: concurrent-merge conflict semantics (LWW vs field-level merge)
# ---------------------------------------------------------------------------


@REGISTRY.register(
    name="m19_merge_conflicts",
    survey_ref="M-family extra (concurrent writers); m1-m4 apply ONE "
    "batch — two writers landing between each other's reads is the "
    "lakehouse conflict case, and row-level last-writer-wins "
    "silently drops the earlier writer's fields",
    doc="two concurrent update batches over customer: writer A (+100 "
    "acctbal, custkey%10==0, ts=1) and writer B (segment→'PRIORITY', "
    "custkey%20==0, ts=2) overlap on %20 keys. Row-level "
    "LAST-WRITER-WINS resolves each conflicted key to B's row — "
    "built from the UNTOUCHED base, so A's balance change is LOST; "
    "FIELD-level merge coalesces per column and keeps both changes. "
    "The audit counts conflicted keys, LWW's lost updates (= all of "
    "them) and field-merge's (zero), both pinned — the measured "
    "argument for column-level MERGE semantics in any multi-writer "
    "table. Everything is key-filtered joins on the dimension; at "
    "100 TB this is two MERGE INTO branches and the audit reads "
    "only the conflicted partition slice.",
    oracle="""
        WITH base AS (
            SELECT c_custkey, ROUND(CAST(c_acctbal AS DOUBLE), 2) AS bal,
                   c_mktsegment AS seg
            FROM customer
        ), wa AS (
            SELECT c_custkey, ROUND(bal + 100.0, 2) AS new_bal
            FROM base WHERE c_custkey % 10 = 0
        ), wb AS (
            SELECT c_custkey, 'PRIORITY' AS new_seg
            FROM base WHERE c_custkey % 20 = 0
        ), conflicted AS (
            SELECT a.c_custkey FROM wa a JOIN wb b USING (c_custkey)
        ), lww AS (
            -- B wrote last: its ROW (base row + B's field) replaces A's
            SELECT b.c_custkey, bs.bal AS bal, b.new_seg AS seg
            FROM wb b JOIN base bs USING (c_custkey)
        ), merged AS (
            SELECT bs.c_custkey,
                   COALESCE(a.new_bal, bs.bal) AS bal,
                   COALESCE(b.new_seg, bs.seg) AS seg
            FROM base bs
            LEFT JOIN wa a USING (c_custkey)
            LEFT JOIN wb b USING (c_custkey)
            WHERE a.c_custkey IS NOT NULL OR b.c_custkey IS NOT NULL
        )
        SELECT CAST((SELECT COUNT(*) FROM conflicted) AS BIGINT)
                   AS n_conflicted_keys,
               CAST((SELECT COUNT(*) FROM lww l
                     JOIN wa a USING (c_custkey)
                     WHERE l.bal <> a.new_bal) AS BIGINT)
                   AS lww_lost_updates,
               CAST((SELECT COUNT(*) FROM merged m
                     JOIN wa a USING (c_custkey)
                     WHERE m.bal <> a.new_bal) AS BIGINT)
                   AS merged_lost_updates,
               (SELECT COUNT(*) FROM merged m JOIN wa a USING (c_custkey)
                WHERE m.bal <> a.new_bal) = 0 AS field_merge_lossless
    """,
)
def m19_merge_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    base = cust.select(
        "c_custkey",
        F.round(F.col("c_acctbal").cast("double"), 2).alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    ).transform(persist_once)
    wa = base.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.round(F.col("bal") + 100.0, 2).alias("new_bal")
    )
    wb = base.filter(F.col("c_custkey") % 20 == 0).select(
        "c_custkey", F.lit("PRIORITY").alias("new_seg")
    )
    n_conflicted = wa.join(wb, "c_custkey").count()
    lww = wb.join(base, "c_custkey").select("c_custkey", "bal", "new_seg")
    merged = (
        base.join(wa, "c_custkey", "left")
        .join(wb, "c_custkey", "left")
        .filter(F.col("new_bal").isNotNull() | F.col("new_seg").isNotNull())
        .select(
            "c_custkey",
            F.coalesce("new_bal", "bal").alias("bal"),
            F.coalesce("new_seg", "seg").alias("seg"),
        )
    )
    lww_lost = (
        lww.join(wa, "c_custkey").filter(F.col("bal") != F.col("new_bal")).count()
    )
    merged_lost = (
        merged.join(wa, "c_custkey")
        .filter(F.col("bal") != F.col("new_bal"))
        .count()
    )
    return cust.sparkSession.createDataFrame(
        [(n_conflicted, lww_lost, merged_lost, merged_lost == 0)],
        "n_conflicted_keys bigint, lww_lost_updates bigint, "
        "merged_lost_updates bigint, field_merge_lossless boolean",
    )


# ---------------------------------------------------------------------------
# M20: partition-spec evolution audit (Iceberg spec-v2 semantics)
# ---------------------------------------------------------------------------

# Iceberg's day(ts) transform is the DATE (epoch-day ordinal), not
# day-of-month — a fixture spanning multiple months must not merge
# Jan-16 with Feb-16. Cutover and query range are date literals.
_M20_CUTOVER_DATE = "2024-01-15"  # files written on day <= this carry spec 0
_M20_Q_LO, _M20_Q_HI = "2024-01-10", "2024-01-25"  # audited query range
_M20_Q_TYPE = "click"


@REGISTRY.register(
    name="m20_partition_evolution",
    survey_ref="M-family extra (Iceberg partition-spec evolution; s16/s18's spec-era sibling)",
    doc="Iceberg partition-spec EVOLUTION semantics, audited: the "
    "events table starts partitioned by day(ts) (spec 0; the Iceberg "
    "day transform = DATE, not day-of-month) and evolves "
    f"mid-history (cutover {_M20_CUTOVER_DATE}) to (day, "
    "event_type) (spec 1) — exactly Iceberg's rule that old data "
    "files keep the spec they were written under, so ONE table scans "
    "under TWO pruning regimes. For the audited query (day "
    f"{_M20_Q_LO}..{_M20_Q_HI} AND event_type='{_M20_Q_TYPE}'), "
    "spec-0 partitions prune on day only (every type scanned, filter "
    "runs row-side), spec-1 partitions prune on both. Output per "
    "spec era: partitions total/read, rows scanned vs matched, and "
    "the scan-amplification ratio — the number that justifies (or "
    "indicts) a spec evolution before it ships. Pure two-level "
    "aggregation over (spec, partition-key) partials; at 100 TB this "
    "is a metadata-only read of the manifests' partition summaries.",
    oracle=f"""
        WITH rows_tagged AS (
            SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, event_type,
                   CASE WHEN CAST(DATE_TRUNC('day', ts) AS DATE)
                             <= DATE '{_M20_CUTOVER_DATE}'
                        THEN 0 ELSE 1 END AS spec_id
            FROM events
        ), parts AS (
            SELECT spec_id, d,
                   CASE WHEN spec_id = 1 THEN event_type ELSE '' END AS pkey_type,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN event_type = '{_M20_Q_TYPE}'
                                 AND d BETWEEN DATE '{_M20_Q_LO}'
                                           AND DATE '{_M20_Q_HI}'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM rows_tagged GROUP BY 1, 2, 3
        ), audited AS (
            SELECT *, CASE WHEN d BETWEEN DATE '{_M20_Q_LO}'
                                      AND DATE '{_M20_Q_HI}'
                            AND (spec_id = 0 OR pkey_type = '{_M20_Q_TYPE}')
                      THEN 1 ELSE 0 END AS is_read
            FROM parts
        )
        SELECT CAST(spec_id AS INT) AS spec_id,
               CAST(COUNT(*) AS BIGINT) AS n_partitions,
               CAST(SUM(is_read) AS BIGINT) AS n_partitions_read,
               CAST(SUM(CASE WHEN is_read = 1 THEN n_rows ELSE 0 END) AS BIGINT)
                   AS rows_scanned,
               CAST(SUM(CASE WHEN is_read = 1 THEN n_match ELSE 0 END) AS BIGINT)
                   AS rows_matched,
               ROUND(CAST(SUM(CASE WHEN is_read = 1 THEN n_rows ELSE 0 END) AS DOUBLE)
                     / NULLIF(SUM(CASE WHEN is_read = 1 THEN n_match ELSE 0 END), 0), 4)
                   AS scan_amplification
        FROM audited GROUP BY spec_id ORDER BY spec_id
    """,
)
def m20_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    d = F.to_date("ts")  # Iceberg day(ts) transform = DATE ordinal
    spec = F.when(d <= F.lit(_M20_CUTOVER_DATE).cast("date"), 0).otherwise(1)
    in_range = d.between(
        F.lit(_M20_Q_LO).cast("date"), F.lit(_M20_Q_HI).cast("date")
    )
    matches = (F.col("event_type") == _M20_Q_TYPE) & in_range
    parts = (
        ev.select(
            spec.alias("spec_id"),
            d.alias("d"),
            F.when(spec == 1, F.col("event_type")).otherwise(F.lit("")).alias("pkey_type"),
            matches.cast("int").alias("m"),
        )
        .groupBy("spec_id", "d", "pkey_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("m").cast("bigint").alias("n_match"),
        )
    )
    is_read = (
        F.col("d").between(
            F.lit(_M20_Q_LO).cast("date"), F.lit(_M20_Q_HI).cast("date")
        )
        & ((F.col("spec_id") == 0) | (F.col("pkey_type") == _M20_Q_TYPE))
    ).cast("int")
    scanned = F.sum(F.when(F.col("is_read") == 1, F.col("n_rows")).otherwise(0))
    matched = F.sum(F.when(F.col("is_read") == 1, F.col("n_match")).otherwise(0))
    return (
        parts.withColumn("is_read", is_read)
        .groupBy(F.col("spec_id").cast("int").alias("spec_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_partitions"),
            F.sum("is_read").cast("bigint").alias("n_partitions_read"),
            scanned.cast("bigint").alias("rows_scanned"),
            matched.cast("bigint").alias("rows_matched"),
            F.round(
                scanned.cast("double") / F.nullif(matched, F.lit(0)), 4
            ).alias("scan_amplification"),
        )
        .orderBy("spec_id")
    )
