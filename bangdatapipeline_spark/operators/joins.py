"""Join operators (SURVEY.md §2.3).

Reference capability: pandas ``merge`` of survey/chat frames with
user/team dimension frames. Here joins are declared and Catalyst + AQE
pick the physical strategy: broadcast-hash when a side fits the
threshold (region/nation/supplier always; customer at test scale),
sort-merge otherwise, with AQE skew-splitting at runtime.

Scale notes (100 TB):
  * fact-fact joins (orders x lineitem) shuffle on the join key — both
    sides are partitioned by orderkey, so bucketing both tables by
    orderkey in the canonical store removes the shuffle entirely;
  * dimension joins broadcast (no shuffle of the fact side at all);
  * the as-of join is implemented as ONE window pass over a union —
    O(n log n) per user partition, no pairwise blow-up — instead of the
    naive theta-join + groupBy which is quadratic per user.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bangdatapipeline_spark.operators.windows import (
    SCD2_KEY_BOUND,
    _SCD2_ORACLE,
    scd2_history,
)
from bangdatapipeline_spark.registry import register
from bangdatapipeline_spark.tables import load_table, spread


@register(
    "join_inner_equi",
    oracle="""
SELECT c_mktsegment,
       count(*)                      AS n_orders,
       round(sum(o_totalprice), 2)   AS total_rev
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dimension inner equi-join + aggregate."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_rev"),
        )
    )


@register(
    "join_left_right_full",
    oracle="""
WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000)
SELECT 'left'  AS side, count(*) AS n_rows, count(o_orderkey) AS n_matched
FROM customer LEFT JOIN big ON o_custkey = c_custkey
UNION ALL
SELECT 'right' AS side, count(*) AS n_rows, count(c_custkey) AS n_matched
FROM big RIGHT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'full'  AS side, count(*) AS n_rows, count(o_orderkey) AS n_matched
FROM customer FULL JOIN big ON o_custkey = c_custkey
""",
)
def join_left_right_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left / right / full outer joins; the >400k filter guarantees
    unmatched customers so outer semantics are actually exercised."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)

    def side(name: str, df: DataFrame, matched_col: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("side"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(matched_col).alias("n_matched"),
        ).select("side", "n_rows", "n_matched")

    left = side("left", c.join(big, c.c_custkey == big.o_custkey, "left"), "o_orderkey")
    right = side("right", big.join(c, big.o_custkey == c.c_custkey, "right"), "c_custkey")
    full = side("full", c.join(big, c.c_custkey == big.o_custkey, "full"), "o_orderkey")
    return left.unionByName(right).unionByName(full)


@register(
    "join_semi_anti",
    oracle="""
SELECT 'semi' AS kind, c_mktsegment, count(*) AS n
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
UNION ALL
SELECT 'anti' AS kind, c_mktsegment, count(*) AS n
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi ("has an urgent order") and anti ("has none") joins. Spark's
    left_semi/left_anti never materialize the right side's columns."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cond = c.c_custkey == urgent.o_custkey

    def agg_side(kind: str, joined: DataFrame) -> DataFrame:
        return (
            joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(kind).alias("kind"), "c_mktsegment", "n")
        )

    semi = agg_side("semi", c.join(urgent, cond, "left_semi"))
    anti = agg_side("anti", c.join(urgent, cond, "left_anti"))
    return semi.unionByName(anti)


@register(
    "join_multiway",
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       count(*)                                          AS n_items
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey   = c_custkey
JOIN lineitem ON l_orderkey  = o_orderkey
JOIN supplier ON s_suppkey   = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name IN ('ASIA', 'EUROPE')
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
""",
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-table snowflake join, fact table first. The
    local-supplier predicate (s_nationkey = c_nationkey) makes it a
    genuine snowflake.

    Join order is the plan: AQE never reorders joins, and without CBO the
    planner sizes a join as the product of its inputs, so a joined chain
    on the left is never broadcastable and only the right input of each
    join can be. With lineitem on the left, every right input is one
    filtered table (orders >= 1996, customer, nation, region, supplier):
    each is broadcast while it fits the threshold and sort-merged at
    design scale, while lineitem streams through one scan stage. A
    dimension-first chain would leave lineitem as the only broadcastable
    input, so the fact table would be broadcast.
    """
    t = {n: load_table(spark, sf_dir, n) for n in
         ("region", "nation", "customer", "orders", "lineitem", "supplier")}
    return (
        t["lineitem"]
        .join(
            t["orders"].filter(
                F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            t["region"].filter(F.col("r_name").isin("ASIA", "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .join(
            t["supplier"],
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            # round at 4dp — the 1e-4 VALUE lattice of price*(1-discount)
            # products — not 2dp: per-group sums land exactly on
            # half-cents, where engines' float accumulation orders flip
            # the cent (docs/dialect_notes.md "aggregate-sum form")
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_theta_range",
    oracle="""
SELECT o_orderkey,
       count(*)                       AS n_shipped_90d,
       round(sum(l_extendedprice), 2) AS rev_90d
FROM orders
JOIN lineitem
  ON l_orderkey = o_orderkey
 AND l_shipdate >= o_orderdate
 AND l_shipdate <  o_orderdate + INTERVAL 90 DAY
GROUP BY o_orderkey
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/range join with an equi-conjunct: the equi key keeps it a
    hash/sort-merge join with the band as a post-join filter (no
    nested-loop blow-up); at scale this is the pattern to prefer over
    pure theta joins."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_shipped_90d"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev_90d"),
        )
    )


def _asof_order(desc: bool = False) -> list:
    """The ONE as-of event-stream ordering (r11: four hand-synchronized
    copies collapsed): partition-less ORDER columns for the join_asof
    family's user_id windows — time, then CLICKS-BEFORE-PURCHASES on
    timestamp ties, then event_id as the final deterministic tie-break.
    On the descending scan (``desc=True``, the forward as-of) the same
    invariant is expressed as purchases-first, which keeps same-ts
    clicks invisible to a forward-looking purchase (strict ``>``).
    Every as-of variant's correctness argument hangs on this ordering;
    change it here or nowhere."""
    if desc:
        tie = F.when(F.col("event_type") == "purchase", F.lit(0)).otherwise(
            F.lit(1)
        )
        return [F.col("ts").desc(), tie, F.col("event_id")]
    tie = F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1))
    return [F.col("ts"), tie, F.col("event_id")]


@register(
    "join_asof",
    oracle="""
SELECT p.event_id  AS purchase_id,
       max(c.ts)   AS last_click_ts,
       count(*)    AS n_prior_clicks
FROM events p
JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click by the same user
    at-or-before its timestamp (inner semantics: purchases with no prior
    click are dropped, matching DuckDB ASOF JOIN semantics).

    Implemented as a single window pass over the event stream ordered by
    (ts, clicks-before-purchases-on-ties): O(n log n) per user and ONE
    shuffle, versus the oracle's quadratic-per-user theta join. This is
    the 100 TB-safe formulation.
    """
    ev = load_table(spark, sf_dir, "events")
    # _asof_order: clicks before purchases on ties, so `c.ts <= p.ts` holds.
    w = (
        Window.partitionBy("user_id")
        .orderBy(*_asof_order())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .withColumn("n_prior_clicks", F.count(click_ts).over(w))
        .filter((F.col("event_type") == "purchase") & F.col("last_click_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "last_click_ts",
            "n_prior_clicks",
        )
    )


_ASOF_TOL_MIN = 120  # tolerance: matches older than this are dropped


@register(
    "join_asof_tolerance",
    oracle=f"""
WITH pc AS (
  SELECT p.event_id AS purchase_id, p.ts AS p_ts, max(c.ts) AS last_click_ts
  FROM events p LEFT JOIN events c
    ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
  WHERE p.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT purchase_id,
       CASE WHEN last_click_ts IS NOT NULL
             AND date_diff('microsecond', last_click_ts, p_ts)
                 <= CAST({_ASOF_TOL_MIN} AS BIGINT) * 60000000
            THEN last_click_ts END AS click_ts_within,
       CASE WHEN last_click_ts IS NOT NULL
             AND date_diff('microsecond', last_click_ts, p_ts)
                 <= CAST({_ASOF_TOL_MIN} AS BIGINT) * 60000000
            THEN date_diff('microsecond', last_click_ts, p_ts) // 60000000
            END AS gap_min,
       last_click_ts IS NOT NULL
         AND date_diff('microsecond', last_click_ts, p_ts)
             <= CAST({_ASOF_TOL_MIN} AS BIGINT) * 60000000 AS matched
FROM pc
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a TOLERANCE bound (pandas ``merge_asof(...,
    tolerance=...)`` semantics): the latest same-user click at-or-before
    each purchase counts only if it happened within the last
    ``_ASOF_TOL_MIN`` minutes — stale matches are dropped (NULL), and every
    purchase survives with a ``matched`` flag. The attribution-window
    variant of ``join_asof``: "credit the click only if it was recent".

    Same single-window-pass formulation (one shuffle on user_id, O(n log
    n) per user) with the tolerance applied as a projection AFTER the
    as-of carry — the bound never changes the scan or the window, so the
    100 TB shape is identical to the unbounded as-of. Gap arithmetic is
    integer microseconds floor-divided to minutes: exact on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(*_asof_order())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    gap_us = F.expr("timestampdiff(MICROSECOND, last_click_ts, ts)")
    within = F.col("last_click_ts").isNotNull() & (
        gap_us <= _ASOF_TOL_MIN * 60_000_000
    )
    return (
        ev.withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.when(within, F.col("last_click_ts")).alias("click_ts_within"),
            F.when(within, (gap_us / 60_000_000).cast("long")).alias("gap_min"),
            within.alias("matched"),
        )
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name, (r_regionkey * 100 + n_nationkey) AS pair_code
FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two dimensions (the kernel under exact kNN)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") * 100 + F.col("n_nationkey")).alias("pair_code"),
    )


_LATERAL_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey,
       round(t.o_totalprice, 2) AS totalprice, t.rn
FROM customer c,
LATERAL (
  SELECT o.o_orderkey, o.o_totalprice,
         CAST(row_number() OVER (ORDER BY o.o_totalprice DESC, o.o_orderkey) AS INT) AS rn
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o.o_totalprice DESC, o.o_orderkey
  LIMIT 2
) t
WHERE c.c_acctbal > 9000
"""


@register("join_lateral", oracle=_LATERAL_SQL)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — "top-2 orders for each qualifying
    customer" as a per-row dependent subquery, the SQL-standard spelling
    of the grouped top-k. The same ANSI text runs on spark.sql() and the
    oracle. Catalyst plans the lateral as a decorrelated join + windowed
    rank limit (never a per-customer re-execution), so the shape scales
    exactly like win_topk_per_group: one shuffle on the correlation key.
    Unique tie-break (o_orderkey) keeps the per-customer LIMIT
    deterministic on both engines.
    """
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


_ASOF_NEAREST_ORACLE = """
WITH cand AS (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id, c.ts AS click_ts,
         abs(date_diff('microsecond', c.ts, p.ts)) AS d_us,
         CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS fwd
  FROM events p
  JOIN events c
    ON c.user_id = p.user_id AND c.event_type = 'click'
   AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts + INTERVAL 30 MINUTE
  WHERE p.event_type = 'purchase'
)
SELECT purchase_id, click_id, click_ts, d_us,
       CASE WHEN fwd = 0 THEN 'back' ELSE 'fwd' END AS direction
FROM cand
QUALIFY row_number() OVER (
  PARTITION BY purchase_id
  ORDER BY d_us ASC, fwd ASC,
           CASE WHEN fwd = 0 THEN -click_id ELSE click_id END ASC) = 1
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with tolerance (pandas
    ``merge_asof(direction='nearest', tolerance=30min)`` semantics): for
    each purchase, the temporally closest click by the same user within
    ±30 minutes, preferring the backward candidate on exact distance
    ties (and deterministic event_id tie-breaks within equal
    timestamps: backward keeps the last click in stream order, forward
    the first).

    Like `join_asof`, this is ONE window pass over the interleaved
    event stream per direction — O(n log n) per user and a single
    shuffle on user_id — versus the oracle's quadratic-per-user banded
    theta join; the 100 TB-safe formulation of `merge_asof`.
    """
    ev = load_table(spark, sf_dir, "events")
    # _asof_order: backward candidates (c.ts <= p.ts, equal-ts included)
    # precede the purchase row in the stream.
    order = _asof_order()
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click = F.when(
        F.col("event_type") == "click", F.struct(F.col("ts"), F.col("event_id"))
    )
    us = lambda a, b: F.expr(f"timestampdiff(MICROSECOND, {a}, {b})")  # noqa: E731
    tol_us = 30 * 60 * 1_000_000
    enriched = (
        ev.withColumn("prev_c", F.last(click, ignorenulls=True).over(w_prev))
        .withColumn("next_c", F.first(click, ignorenulls=True).over(w_next))
        .filter(F.col("event_type") == "purchase")
        .withColumn("d_prev", us("prev_c.ts", "ts"))
        .withColumn("d_next", us("ts", "next_c.ts"))
    )
    use_prev = F.col("prev_c").isNotNull() & (
        F.col("next_c").isNull() | (F.col("d_prev") <= F.col("d_next"))
    )
    chosen = enriched.select(
        F.col("event_id").alias("purchase_id"),
        F.when(use_prev, F.col("prev_c")).otherwise(F.col("next_c")).alias("c"),
        F.when(use_prev, F.col("d_prev")).otherwise(F.col("d_next")).alias("d_us"),
        F.when(use_prev, F.lit("back")).otherwise(F.lit("fwd")).alias("direction"),
    )
    return chosen.filter(
        F.col("c").isNotNull() & (F.col("d_us") <= tol_us)
    ).select(
        "purchase_id",
        F.col("c.event_id").alias("click_id"),
        F.col("c.ts").alias("click_ts"),
        "d_us",
        "direction",
    )


# --------------------------------------------------------------------------
# Salted skew join (hot-key splitting; oracle = the plain join)
# --------------------------------------------------------------------------

_JOIN_SALT = 8


@register(
    "join_salted_skew",
    oracle="""
SELECT c.c_nationkey, e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(e.value), 2) AS sum_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join: the fact side gets a deterministic salt
    in [0, 8); the other side is replicated once per salt value; the join
    runs on (key, salt) so a hot key's rows spread across 8 reducers
    instead of pinning one straggler. Result is row-identical to the
    plain join — the oracle IS the plain join, pinning the equivalence
    that makes salting safe to deploy.

    At 100 TB: this is the manual fallback when AQE's runtime skew split
    can't help (e.g. the skew is in the build side of a shuffled hash
    join, or state must stay bounded in streaming). Cost model: replicas
    multiply the small side by S (bounded, choose S ~ hottest-key
    skew factor); the big side's shuffle is unchanged in volume, just
    spread evenly. The SHUFFLE_HASH hint avoids both a broadcast (which
    would hide the demonstration) and an unnecessary sort.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(_JOIN_SALT))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(_JOIN_SALT)]))
        )
    )
    j = ev.join(
        c.hint("shuffle_hash"),
        (ev.user_id == c.c_custkey) & (ev._salt == c._salt),
    )
    return j.groupBy("c_nationkey", "event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Point-in-time temporal join against an SCD2 history
# --------------------------------------------------------------------------


@register(
    "join_temporal_pit",
    oracle=f"""
WITH ranges AS (
{_SCD2_ORACLE}
),
f AS (
  SELECT o.o_custkey AS custkey, l.l_orderkey, l.l_linenumber, l.l_shipdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey < {SCD2_KEY_BOUND}
)
SELECT f.custkey, f.l_orderkey, f.l_linenumber, f.l_shipdate,
       r.version, r.totalprice
FROM f JOIN ranges r
  ON r.custkey = f.custkey
 AND f.l_shipdate >= r.valid_from
 AND (r.valid_to IS NULL OR f.l_shipdate < r.valid_to)
""",
)
def join_temporal_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each shipment event is enriched with the SCD2
    dimension version that was valid AT ship time ([valid_from, valid_to)
    half-open ranges, NULL valid_to = current) — the feature-store
    correctness pattern that prevents training-time leakage of
    future dimension state.

    Plan: the history table is dimension-sized, so it BROADCASTS and the
    range predicate rides as a residual on the custkey hash join — each
    fact row probes only its own entity's versions. Ranges are disjoint
    by construction (lead() of the version sort), so exactly one version
    matches and the join never amplifies. At 100 TB with long histories,
    the same semantics restate as the union+window as-of form
    (``join_asof``) to keep per-entity state a sorted partition-local
    run; bucket both sides by entity key to kill the shuffle.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < SCD2_KEY_BOUND
    )
    # the shared SCD2 kernel (windows.scd2_history); pit only consumes
    # the effectivity range + version, so the audit columns drop before
    # the broadcast
    ranges = scd2_history(o).drop("orderkey", "is_current")
    li = load_table(spark, sf_dir, "lineitem")
    f = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_custkey").alias("custkey"),
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
    )
    r = F.broadcast(ranges).alias("r")
    return (
        f.alias("f")
        .join(
            r,
            (F.col("r.custkey") == F.col("f.custkey"))
            & (F.col("f.l_shipdate") >= F.col("r.valid_from"))
            & (F.col("r.valid_to").isNull() | (F.col("f.l_shipdate") < F.col("r.valid_to"))),
        )
        .select(
            "f.custkey", "l_orderkey", "l_linenumber", "l_shipdate",
            "version", "totalprice",
        )
    )


# --------------------------------------------------------------------------
# Interval-overlap self-join (temporal conflict detection)
# --------------------------------------------------------------------------


@register(
    "join_interval_overlap",
    oracle="""
WITH w AS (
  SELECT o_custkey AS ck, o_orderkey AS ok, o_orderdate AS s,
         o_orderdate + INTERVAL 7 DAY AS e
  FROM orders WHERE o_custkey < 300
)
SELECT a.ck, a.ok AS ok_a, b.ok AS ok_b,
       CAST(date_diff('day',
                      CASE WHEN a.s >= b.s THEN a.s ELSE b.s END,
                      CASE WHEN a.e <= b.e THEN a.e ELSE b.e END) AS BIGINT)
         AS overlap_days
FROM w a JOIN w b ON a.ck = b.ck AND a.ok < b.ok
WHERE a.s < b.e AND b.s < a.e
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: each order spans a 7-day activity
    window; emit same-customer order pairs whose windows overlap, with
    the overlap length — the temporal-conflict / concurrent-session
    detection pattern (two bookings colliding, two deployments
    overlapping).

    The equi-conjunct (customer) makes this a hash join with the
    overlap inequalities as residuals — per-customer quadratic bounded
    by orders-per-customer, never corpus-quadratic; the classic interval
    join trap (pure theta → broadcast-nested-loop over everything) is
    avoided by ALWAYS blocking on an entity or coarse time-bucket key.
    At 100 TB with no natural entity key, bucket time into window-sized
    epochs and join on epoch ± 1 — same plan shape.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    w = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderkey").alias("ok"),
        F.col("o_orderdate").alias("s"),
        (F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")).alias("e"),
    )
    a = w.select(F.col("ck"), F.col("ok").alias("ok_a"), F.col("s").alias("sa"), F.col("e").alias("ea"))
    b = w.select(F.col("ck"), F.col("ok").alias("ok_b"), F.col("s").alias("sb"), F.col("e").alias("eb"))
    return (
        a.join(b, "ck")
        .filter(
            (F.col("ok_a") < F.col("ok_b"))
            & (F.col("sa") < F.col("eb"))
            & (F.col("sb") < F.col("ea"))
        )
        .select(
            "ck", "ok_a", "ok_b",
            F.datediff(
                F.least("ea", "eb"), F.greatest("sa", "sb")
            ).cast("bigint").alias("overlap_days"),
        )
    )


@register(
    "join_null_safe",
    oracle="""
WITH c AS (
  SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
  FROM customer
),
dim AS (
  SELECT DISTINCT nullif(c_mktsegment, 'BUILDING') AS seg,
         coalesce(nullif(c_mktsegment, 'BUILDING'), 'UNSEGMENTED') AS seg_name
  FROM customer
)
SELECT d.seg_name,
       CAST(count(*) AS BIGINT) AS n_customers
FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
GROUP BY d.seg_name
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match NULL keys instead of vanishing — the join semantics every
    dimension lookup with an 'unknown' bucket needs. Ordinary `=` would
    silently drop the NULL-segment customers; `<=>` keeps the join a
    hash join (NULL hashes like any value under null-safe equality), so
    the plan is identical to the plain equi-join — broadcast dim, no
    extra pass for the NULL bucket.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
            F.coalesce(
                F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")),
                F.lit("UNSEGMENTED"),
            ).alias("seg_name"),
        )
        .distinct()
    )
    return (
        c.join(F.broadcast(dim), c.seg.eqNullSafe(dim.seg))
        .groupBy("seg_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# 30-minute attention window and grid cell (microseconds)
RANGE_WIN_US = 30 * 60 * 1_000_000


@register(
    "join_range_bucketed",
    oracle=f"""
WITH p AS (
  SELECT event_id AS interval_id, ts AS t0 FROM events
  WHERE event_type = 'purchase'
)
SELECT p.interval_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2)   AS sum_value
FROM p JOIN events e
  ON e.ts >= p.t0 AND e.ts < p.t0 + INTERVAL 30 MINUTE
GROUP BY p.interval_id
""",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key): all events inside each purchase's
    30-minute window, via GRID-BUCKET decomposition — intervals explode
    onto the 30-min grid cells they cover (1–2 each), points map to one
    cell, and the join becomes a hash equi-join on the cell with the
    range as a residual filter.

    This is the pattern that replaces the O(n·m) theta join at scale:
    without it Spark plans BroadcastNestedLoopJoin (every point × every
    interval); with it the shuffle is keyed on grid cells, candidate
    pairs are only same-cell ones, and skew follows the data's temporal
    density (AQE-splittable). The oracle states the plain theta join —
    DuckDB's IEJoin handles it at test scale; Spark's equivalent IS this
    decomposition. Window = grid size, so each interval covers ≤ 2
    cells (amplification bounded by W/G + 1).
    """
    ev = load_table(spark, sf_dir, "events")
    # tz-free microsecond offset from a fixed NTZ origin (ts is
    # timestamp_ntz; unix_micros would demand a session-zone cast)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2020-01-01 00:00:00', ts)")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("interval_id"),
        us.alias("t0"),
        F.explode(
            F.sequence(
                F.floor(us / RANGE_WIN_US),
                F.floor((us + RANGE_WIN_US - 1) / RANGE_WIN_US),
            )
        ).alias("cell"),
    )
    e = ev.select(
        F.col("value"),
        us.alias("t"),
        F.floor(us / RANGE_WIN_US).alias("cell"),
    )
    return (
        p.join(e, "cell")
        .filter((F.col("t") >= F.col("t0")) & (F.col("t") < F.col("t0") + RANGE_WIN_US))
        .groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# Bloom pre-filter parameters: M bits, K=3 hash positions drawn from
# non-overlapping 8-hex-digit windows of md5(key) — deterministic and
# engine-portable, so the oracle replicates the EXACT filter (including
# its false positives), not just the final join.
BLOOM_M = 512
_BLOOM_ACCTBAL = 8000


def _bloom_bits_sql(key_expr: str) -> list[str]:
    return [
        f"CAST(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), {1 + 8 * i}, 8)) "
        f"AS BIGINT) % {BLOOM_M}"
        for i in range(3)
    ]


def _bloom_bits_spark(key_col, m: int = BLOOM_M):
    h = F.md5(F.encode(key_col.cast("string"), "utf-8"))
    return [
        (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long") % m)
        for i in range(3)
    ]


@register(
    "join_bloom_prefilter",
    oracle=f"""
WITH dim AS (
  SELECT DISTINCT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > {_BLOOM_ACCTBAL}
),
bits AS (
  SELECT DISTINCT bit FROM (
    SELECT unnest([{', '.join(_bloom_bits_sql('c_custkey'))}]) AS bit FROM dim
  )
),
f AS (
  SELECT year(o_orderdate)                                AS order_year,
         o_custkey,
         {_bloom_bits_sql('o_custkey')[0]}                AS b0,
         {_bloom_bits_sql('o_custkey')[1]}                AS b1,
         {_bloom_bits_sql('o_custkey')[2]}                AS b2
  FROM orders
),
flagged AS (
  SELECT order_year,
         b0 IN (SELECT bit FROM bits)
           AND b1 IN (SELECT bit FROM bits)
           AND b2 IN (SELECT bit FROM bits)              AS pass_bloom,
         o_custkey IN (SELECT c_custkey FROM dim)        AS is_match
  FROM f
)
SELECT order_year,
       CAST(count(*) AS BIGINT)                               AS n_orders,
       CAST(count(*) FILTER (WHERE pass_bloom) AS BIGINT)     AS n_pass_bloom,
       CAST(count(*) FILTER (WHERE is_match) AS BIGINT)       AS n_true_match,
       CAST(count(*) FILTER (WHERE pass_bloom AND NOT is_match) AS BIGINT)
                                                              AS n_false_pos,
       round(count(*) FILTER (WHERE pass_bloom AND NOT is_match) * 1.0
             / count(*), 6)                                   AS fp_rate
FROM flagged
GROUP BY order_year
""",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filter: build a 512-bit Bloom filter
    over the dimension keys (high-balance BUILDING customers), broadcast
    its set bits, and gate the fact scan on "all K=3 bits set" BEFORE
    any join — the runtime-filter technique that turns a fact-side
    shuffle into a scan-stage drop at 100 TB.

    The bit set is built distributed (explode + distinct over the dim
    side), collapsed to ONE array row, and crossJoin-broadcast onto the
    fact side; the membership test is a JVM-side ``array_contains``
    conjunction, which needs no partitioning of the fact side. The fact
    rows are still shuffled once, by the ``spread`` rebalance of their
    2-column projection before the bit hashing, so the plan has three
    Exchanges: the bit-set aggregate, that rebalance and the 7-row year
    rollup. The output
    audits the filter itself: per order-year, rows passing the bloom
    gate, true dimension matches (broadcast left join), and surviving
    false positives with their rate — the oracle reproduces the same
    md5-derived bit positions, so even the false positives hash-match
    exactly. At real scale the same audit decides M (bits) per build:
    fp_rate directly prices the wasted post-filter work.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = (
        cust.filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("c_acctbal") > _BLOOM_ACCTBAL)
        )
        .select("c_custkey")
    )
    # c_custkey is a key (already unique) and collect_set dedups bits —
    # no .distinct() anywhere, so the dim side never hash-shuffles
    bits_rows = dim.select(
        F.explode(F.array(*_bloom_bits_spark(F.col("c_custkey")))).alias("bit")
    ).agg(F.sort_array(F.collect_set("bit")).alias("bloom_bits"))
    b = _bloom_bits_spark(F.col("o_custkey"))
    # r12: the 3 md5-derived bit positions per fact row are heavy scan-
    # stage expressions fused into the single-row-group scan's one task —
    # spread the 2-column projection first (guide §2.5, the tables.spread
    # pattern) so the hash work runs at session parallelism.
    fact = spread(
        orders.select(F.year("o_orderdate").alias("order_year"), "o_custkey"),
        "order_year",
        "o_custkey",
    ).select(
        "order_year",
        "o_custkey",
        b[0].alias("b0"),
        b[1].alias("b1"),
        b[2].alias("b2"),
    )
    flagged = (
        fact.crossJoin(F.broadcast(bits_rows))
        .withColumn(
            "pass_bloom",
            F.array_contains("bloom_bits", F.col("b0"))
            & F.array_contains("bloom_bits", F.col("b1"))
            & F.array_contains("bloom_bits", F.col("b2")),
        )
        .join(
            F.broadcast(dim.withColumn("is_dim", F.lit(True))),
            fact.o_custkey == dim.c_custkey,
            "left",
        )
        .withColumn("is_match", F.coalesce("is_dim", F.lit(False)))
    )
    return flagged.groupBy("order_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if("pass_bloom").alias("n_pass_bloom"),
        F.count_if("is_match").alias("n_true_match"),
        F.count_if(F.col("pass_bloom") & ~F.col("is_match")).alias("n_false_pos"),
        F.round(
            F.count_if(F.col("pass_bloom") & ~F.col("is_match"))
            / F.count(F.lit(1)),
            6,
        ).alias("fp_rate"),
    )


@register(
    "join_asof_forward",
    oracle="""
SELECT p.event_id AS purchase_id,
       min(c.ts) AS next_click_ts,
       CAST(count(*) AS BIGINT) AS n_later_clicks
FROM events p JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts > p.ts
WHERE p.event_type = 'purchase'
GROUP BY 1
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (pandas ``merge_asof(direction='forward')``):
    for each purchase, the EARLIEST same-user click STRICTLY AFTER it —
    the "next touch" attribution primitive, mirror image of
    ``join_asof``'s latest-at-or-before. Inner semantics: purchases with
    no later click drop, matching the oracle's theta-join aggregate.

    Same single-window-pass formulation as ``join_asof`` run in REVERSE
    time order: one shuffle on user_id, each user's stream sorted ts
    DESC with purchases before clicks on ties (so an equal-ts click is
    NOT yet visible at the purchase row — strictly-after semantics fall
    out of the sort order, no predicate needed), and a running
    last/count over the already-seen (i.e. later-in-time) clicks.
    O(n log n) per user versus the oracle's quadratic per-user theta
    join — the 100 TB-safe formulation, identical in cost to the
    backward as-of (cites join_asof's plan audit).
    """
    ev = load_table(spark, sf_dir, "events")
    # _asof_order(desc=True): "preceding" rows are later in time; same-ts
    # clicks stay invisible to the purchase (strict >).
    w = (
        Window.partitionBy("user_id")
        .orderBy(*_asof_order(desc=True))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    return (
        ev.withColumn("next_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .withColumn("n_later_clicks", F.count(click_ts).over(w))
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("next_click_ts").isNotNull()
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "next_click_ts",
            "n_later_clicks",
        )
    )
