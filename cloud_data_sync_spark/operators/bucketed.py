"""Bucketed co-located fact⋈fact join, as a registered query.

THE 100 TB shuffle-elimination strategy: both fact tables are written
ONCE bucketed (and sorted) by their join key, and every subsequent join
on that key is exchange-free AND sort-free — each task zips bucket i of
orders with bucket i of lineitem. SCALE.md lists this as the first thing
a real deployment changes; ``tests/test_bucketing.py`` proves the layout
mechanics, and this module puts the demonstration in the registry where
the plan audit enforces it: ``q_join_bucketed``'s ENTIRE physical plan —
broadcast dim attach, the orders⋈lineitem sort-merge join, the group
aggregate (grouping keys contain the bucket key, so the hash aggregate
inherits the scan's partitioning), and the global top-k — contains ZERO
Exchange nodes (tools/plan_audit.py: forbid "Exchange").

The bucketed copies are a session-scoped LAYOUT substrate: written once
per (session, sf_dir, input vintage) via ``bucketBy(8, key).sortBy(key)``
into scratch space, registered in the session catalog, reused by every
subsequent call. At 100 TB the write is the one-time ETL step that pays
for itself after the first join; bucket count scales with cluster size
(thousands), 8 here only to keep local files readable. Values are
layout-independent, so the DuckDB oracle is the plain join over the raw
parquet tables.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud_data_sync_spark.registry import register
from cloud_data_sync_spark.tables import input_vintage, load_table

# Bucket count, overridable per deployment via conf (r6 verdict item 6):
# the right value is ~cluster-core scale (hundreds to thousands) so every
# core zips its own bucket pair; 8 here only keeps local test files
# readable. Both facts MUST share one count — mismatched counts reintroduce
# the exchange the layout exists to remove — which is why this is one conf,
# not a per-table knob. The conf participates in the layout-cache key and
# the catalog table names, so flipping it mid-session writes a fresh layout
# instead of serving the old count from the catalog.
BUCKET_COUNT_CONF = "spark.cloud_data_sync.bucket_count"
_DEFAULT_BUCKETS = 8


def _bucket_count(spark: SparkSession) -> int:
    try:
        n = int(spark.conf.get(BUCKET_COUNT_CONF, str(_DEFAULT_BUCKETS)))
    except (ValueError, TypeError):
        return _DEFAULT_BUCKETS
    return n if n > 0 else _DEFAULT_BUCKETS


# session-scoped layout cache: (applicationId, sf_dir, bucket count, fact
# vintages) -> {table: catalog name}. Names embed the key hash, so a fresh
# session (new applicationId), a rewritten input (new vintage), or a new
# bucket count writes fresh tables instead of trusting a stale catalog entry.
# Not in tables.session_cached's store: every hit is revalidated against the
# catalog, so a dropped table is rewritten instead of served.
_LAYOUT_CACHE: dict[tuple, dict[str, str]] = {}

_FACTS = (("orders", "o_orderkey"), ("lineitem", "l_orderkey"))


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Write-once bucketed copies of orders + lineitem; returns catalog
    table names. Both facts use the same bucket count on their join key —
    the precondition for the exchange-free co-located join."""
    buckets = _bucket_count(spark)
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        buckets,
        input_vintage(sf_dir, tuple(t for t, _ in _FACTS)),
    )
    hit = _LAYOUT_CACHE.get(key)
    if hit is not None and all(
        spark.catalog.tableExists(n) for n in hit.values()
    ):
        return hit
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:10]
    scratch = os.path.join(tempfile.gettempdir(), f"cds_bucketed_{tag}")
    out: dict[str, str] = {}
    for table, keycol in _FACTS:
        name = f"bkt_{table}_{tag}"
        if not spark.catalog.tableExists(name):
            (
                load_table(spark, sf_dir, table)
                .write.bucketBy(buckets, keycol)
                .sortBy(keycol)
                .option("path", os.path.join(scratch, table))
                .mode("overwrite")
                .saveAsTable(name)
            )
        out[table] = name
    _LAYOUT_CACHE[key] = out
    return out


@register(
    "q_join_bucketed",
    oracle="""
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'MACHINERY'
  AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    doc=(
        "TPC-H Q3 shape over BUCKETED fact tables: orders and lineitem "
        "pre-bucketed (8 buckets, sorted) on orderkey, so the fact join "
        "is a zip of co-located buckets — the executed plan contains no "
        "Exchange at all (plan-audited): broadcast customer dim, "
        "exchange-free+sort-free SortMergeJoin, hash aggregate riding "
        "the scan's bucket partitioning (grouping keys ⊇ bucket key), "
        "TakeOrderedAndProject top-10. The one-time bucketed write is "
        "the session-scoped layout substrate — at 100 TB it is the ETL "
        "step that removes the orderkey shuffle from EVERY downstream "
        "join and aggregation on this key. Values are layout-independent "
        "(oracle runs the plain join on raw parquet)."
    ),
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = bucketed_fact_tables(spark, sf_dir)
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "MACHINERY")
        .select("c_custkey")
    )
    orders = spark.table(tables["orders"]).filter(F.col("o_orderdate") < cutoff)
    li = spark.table(tables["lineitem"]).filter(F.col("l_shipdate") > cutoff)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        # merge hint: at local test scale Spark would happily broadcast the
        # filtered fact side, which is exactly the plan that DIES at 100 TB
        # — the hint pins the co-located sort-merge path the layout exists
        # for (bucketed + sorted scans ⇒ no exchange, no sort)
        .join(li.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q_agg_bucketed",
    oracle="""
SELECT l_orderkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 20
""",
    doc=(
        "Aggregation riding the bucketed layout: per-order line count and "
        "revenue over the SAME bucketed lineitem copy q_join_bucketed "
        "wrote — grouping on the bucket key means the hash aggregate "
        "inherits the scan's partitioning and the plan's only post-scan "
        "operators are the (exchange-free) aggregate and the top-20 heap "
        "merge (plan-audited: zero shuffle Exchange nodes). The point: a "
        "bucketed layout is paid for ONCE and then every downstream "
        "join AND aggregation on that key is shuffle-free — which is why "
        "real warehouses bucket their biggest fact tables. Values are "
        "layout-independent (oracle runs the plain GROUP BY)."
    ),
)
def q_agg_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = bucketed_fact_tables(spark, sf_dir)
    li = spark.table(tables["lineitem"])
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )
