"""Set operations + sort/limit/top-k (SURVEY.md §2.6/§2.7).

Scale notes: UNION ALL is a zero-shuffle concatenation of partitions;
UNION DISTINCT / INTERSECT / EXCEPT shuffle on the full row — at 100 TB
prefer pre-aggregating or hashing wide rows down to keys before a
distinct set op. Global top-k uses TakeOrderedAndProject: each partition
keeps k rows, the driver merges — no full sort ever materializes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from bangdatapipeline_spark.registry import register
from bangdatapipeline_spark.tables import load_table


@register(
    "setop_union_all",
    oracle="""
SELECT c_custkey AS id, 'customer' AS src, round(c_acctbal, 2) AS bal FROM customer
UNION ALL
SELECT s_suppkey AS id, 'supplier' AS src, round(s_acctbal, 2) AS bal FROM supplier
""",
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag union with by-name column resolution (columns deliberately
    built in different order on the two sides)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.lit("customer").alias("src"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.round("s_acctbal", 2).alias("bal"),
        F.col("s_suppkey").alias("id"),
        F.lit("supplier").alias("src"),
    )
    return c.unionByName(s)


@register(
    "setop_union_distinct",
    oracle="""
SELECT c_nationkey AS nk FROM customer
UNION
SELECT s_nationkey AS nk FROM supplier
""",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union (distinct)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


def multiset_ops(df: DataFrame, key: str, in_a: Column, in_b: Column) -> DataFrame:
    """INTERSECT, EXCEPT, INTERSECT ALL and EXCEPT ALL of bag A (rows
    where ``in_a``) and bag B (rows where ``in_b``) projected on ``key``,
    as ``(op, key)`` rows from one aggregate.

    Per key, ``cu`` counts its copies in A and ``cf`` its copies in B; a
    key then emits 1 ``intersect`` row if cu > 0 and cf > 0, 1 ``except``
    row if cu > 0 and cf = 0, least(cu, cf) ``intersect_all`` copies and
    greatest(cu - cf, 0) ``except_all`` copies. That is the multiset
    algebra Spark's RewriteIntersectAll / RewriteExceptAll apply to each
    ALL operator (counts, then replicate rows), here computed once for
    all four; NULL keys group together, as set operations compare them.
    """
    counts = (
        df.filter(in_a | in_b)
        .groupBy(key)
        .agg(F.count_if(in_a).alias("cu"), F.count_if(in_b).alias("cf"))
    )
    cu, cf = F.col("cu"), F.col("cf")
    emit = {
        "intersect": (cu > 0) & (cf > 0),
        "except": (cu > 0) & (cf == 0),
        "intersect_all": F.least(cu, cf),
        "except_all": F.greatest(cu - cf, F.lit(0)),
    }
    per_op = counts.select(
        key,
        F.inline(F.array(*(
            F.struct(F.lit(op).alias("op"), n.cast("int").alias("n"))
            for op, n in emit.items()
        ))),
    )
    return per_op.select("op", F.explode(F.array_repeat(key, "n")).alias(key))


@register(
    "setop_intersect_except",
    oracle="""
WITH urgent AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
     fstat  AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
SELECT 'intersect' AS op, k FROM ((SELECT DISTINCT k FROM urgent) INTERSECT (SELECT DISTINCT k FROM fstat)) t1
UNION ALL
SELECT 'except' AS op, k FROM ((SELECT DISTINCT k FROM urgent) EXCEPT (SELECT DISTINCT k FROM fstat)) t2
UNION ALL
SELECT 'intersect_all' AS op, k FROM (SELECT k FROM urgent INTERSECT ALL SELECT k FROM fstat) t3
UNION ALL
SELECT 'except_all' AS op, k FROM (SELECT k FROM urgent EXCEPT ALL SELECT k FROM fstat) t4
""",
)
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT and their ALL (multiset) variants of the urgent
    and status-F customer bags, in one result tagged by op. One orders
    scan and one ``groupBy(o_custkey)`` (``multiset_ops``) serve all
    four, so the only shuffle moves per-key counts; the four native
    operators would each scan both bags and shuffle or broadcast them."""
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "k")
    return multiset_ops(
        o, "k", F.col("o_orderpriority") == "1-URGENT", F.col("o_orderstatus") == "F"
    )


@register(
    "sort_multi",
    oracle="""
SELECT c_custkey, round(c_acctbal, 2) AS bal, nullif(c_mktsegment, 'BUILDING') AS seg
FROM customer
ORDER BY seg ASC NULLS FIRST, bal DESC, c_custkey ASC
LIMIT 50
""",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with NULLS FIRST, desc/asc mix, unique tie-break."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.round("c_acctbal", 2).alias("bal"),
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        )
        .orderBy(
            F.col("seg").asc_nulls_first(),
            F.col("bal").desc(),
            F.col("c_custkey").asc(),
        )
        .limit(50)
    )


@register(
    "topk_limit",
    oracle="""
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
""",
)
def topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: TakeOrderedAndProject (per-partition heaps + driver
    merge, no global sort). Unique o_orderkey suffix makes the row set
    deterministic under ties."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@register(
    "skyline_pareto",
    # The oracle states the dominance definition directly (NOT EXISTS a
    # part that is <= on both axes and < on at least one) — O(n^2) but
    # unambiguous; the Spark plan is the O(n log n) sweep below.
    oracle="""
SELECT p.p_partkey,
       p.p_brand,
       round(p.p_retailprice, 2) AS price,
       p.p_size                  AS size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice
    AND q.p_size <= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
)
""",
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts minimizing (retailprice, size):
    a part survives iff nothing is cheaper-and-not-bigger or
    same-price-and-strictly-smaller.

    Spark plan is the sort-sweep, not the quadratic self-join: collapse
    to min size per distinct price (hash aggregate), running-min over
    strictly-cheaper prices via one ordered window, then a broadcast
    join back to the parts. The single-partition window only ever sees
    |distinct prices| rows (already aggregated), so the sweep is safe at
    any fact-table scale; the dominance test itself is two scalar
    comparisons per row.
    """
    p = load_table(spark, sf_dir, "part")
    by_price = p.groupBy("p_retailprice").agg(F.min("p_size").alias("msize"))
    prev = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sweep = by_price.select(
        "p_retailprice",
        "msize",
        F.min("msize").over(prev).alias("prev_min"),
    )
    j = p.join(F.broadcast(sweep), "p_retailprice")
    dominated = (
        (F.col("prev_min").isNotNull() & (F.col("prev_min") <= F.col("p_size")))
        | (F.col("msize") < F.col("p_size"))
    )
    return j.filter(~dominated).select(
        "p_partkey",
        "p_brand",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").alias("size"),
    )
