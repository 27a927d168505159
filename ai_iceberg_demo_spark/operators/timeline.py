"""Flagship query: the conversation-timeline listing.

This is the reference's core retrieval shape — the UI's conversation
list + replay path (`neo4j_memory.py:279-289,629-639,703-752`): scan
conversations, join their children, compute latest-item and totals per
conversation, newest first, paginated. On fixtures: orders play
conversations, lineitem plays the message/result children.

One query exercises scan (S1), parent-child join (J1), per-group agg
(A1), last-per-group window (W1), sort+pagination (O1/O3) at once —
the driver's `entry(spark)` smoke check runs it at sf0.001.

Scale shape: one shuffle of lineitem by orderkey feeds both the agg
and the window (same partitioning, Catalyst reuses the exchange);
orders side joins on the same key; final TakeOrderedAndProject keeps
only the page.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_iceberg_demo_spark.registry import Registry
from ai_iceberg_demo_spark.tables import load_table

REGISTRY = Registry()


@REGISTRY.register(
    name="flagship_timeline",
    survey_ref="§7.1 (J1+W1+A1+O1+O3)",
    doc="Conversation-timeline listing: per-order item count, total, last "
    "item; newest 50 orders first.",
    oracle="""
        WITH per_order AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS items_total,
                   CAST(MAX(l_linenumber) AS INT) AS last_seq,
                   CAST(MAX(CAST(l_linenumber AS BIGINT) * 10000000 + l_partkey) % 10000000 AS BIGINT) AS last_partkey
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT o.o_orderkey, o.o_orderstatus, o.o_orderdate,
               p.n_items, p.items_total, p.last_seq, p.last_partkey
        FROM orders o JOIN per_order p ON o.o_orderkey = p.l_orderkey
        ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
        LIMIT 50
    """,
    bench=True,
)
def flagship_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    # the last item comes out of the same aggregation pass — same
    # partitioning as the count/sum, so no extra shuffle or window.
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("items_total"),
        F.max("l_linenumber").alias("last_seq"),
        # l_linenumber ties exist in the fixtures; encoding (seq, partkey)
        # into one BIGINT makes "last item" deterministic on both engines
        (F.max(F.col("l_linenumber").cast("bigint") * 10000000 + F.col("l_partkey")) % 10000000).alias("last_partkey"),
    )
    return (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey, "inner")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderdate",
            "n_items",
            "items_total",
            "last_seq",
            "last_partkey",
        )
        .orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
        .limit(50)
    )
