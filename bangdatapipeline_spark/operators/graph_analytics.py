"""Graph / sequence analytics over the event log and the order graph.

These are the "derived-structure" operators a training-data pipeline runs
on top of the relational core: Markov transition matrices over event
sequences, statistical outlier flagging, deterministic mode aggregation,
n-gram (bigram) vocabularies, and an iterative graph algorithm (PageRank)
expressed as a fixed number of join+aggregate rounds.

Reference parity: the reference is a pandas ETL library (SURVEY.md §0/§2
provenance notes) — every operator here is a pandas-expressible table op
(groupby/shift/merge loops); no reference code is consulted or copied.

Scale notes (100 TB):
  * `events_transitions` — one window pass partitioned by user (each
    user's history is one partition-local sorted run) feeding a tiny
    (#types² keys) aggregation; the shuffle moves only the lag pairs.
  * `events_anomaly` — two aggregations sharing the user_id hash
    partitioning; nothing wide materializes.
  * `graph_pagerank` — each iteration gathers at src over the cached,
    src-partitioned edge list (the classic Pregel round as join+groupBy):
    the O(|V|) rank table is broadcast onto the edges and the aggregate
    keys on the edge partitioning, so no iteration shuffles the edges.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from bangdatapipeline_spark.registry import register
from bangdatapipeline_spark.caches import memo
from bangdatapipeline_spark.tables import load_table


# Size gate for the adjacency-table broadcasts in the triangle/Jaccard
# family: the per-node out-neighbor arrays are O(|V| * sqrt(2|E|)) — fine
# to broadcast at survey scale, a driver/executor OOM at billion-node
# scale. Below the gate the join gets the explicit broadcast hint; above
# it the hint is withheld so Catalyst plans a shuffled sort-merge join on
# the node key (the docstring's bucketed-join move — both sides hash on
# the same key, no new shuffle class).
_BROADCAST_MAX_BYTES = 256 << 20  # 256 MB, ~executor broadcast comfort zone


def _size_gated_broadcast(df: DataFrame) -> DataFrame:
    """Broadcast-hint ``df`` only when Catalyst's own plan-stats estimate
    fits the gate. The estimate (`optimizedPlan().stats().sizeInBytes`)
    is pure planning — no job runs — and is exact for materialized cached
    relations, file-size-derived for scans. The gate is the module
    constant ``_BROADCAST_MAX_BYTES``."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable -> assume too big, stay shuffled
        return df
    return F.broadcast(df) if size <= _BROADCAST_MAX_BYTES else df


# --------------------------------------------------------------------------
# Event-type transition matrix (Markov chain estimation)
# --------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type,
       event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n,
       count(*) / CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS DOUBLE)
         AS p
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


@register("events_transitions", oracle=_TRANSITIONS_ORACLE)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for every
    ordered pair (prev_type, next_type) the transition count and the
    row-normalized probability.

    Plan: one `lag` window per user (partition-local sorted run, the
    (ts, event_id) order key makes the sequence deterministic), then an
    aggregation onto the bounded #types x #types key space — map-side
    partials collapse the volume before the shuffle. The probability is
    a window-sum over the (tiny) aggregate, not a second pass over the
    events. `p` is a single IEEE division of two exact integers, so it is
    bit-identical across engines — emitted unrounded.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    w_prev = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") / F.sum("n").over(w_prev).cast("double")).alias("p"),
    )


# --------------------------------------------------------------------------
# Statistical anomaly flagging (z-score per user-day)
# --------------------------------------------------------------------------

_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d, sum(value) AS val
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT user_id, avg(val) AS mu, stddev_samp(val) AS sigma,
         count(*) AS n_days
  FROM daily GROUP BY 1
)
SELECT d.user_id, d.d, round(d.val, 2) AS val,
       (d.val - s.mu) / s.sigma AS z
FROM daily d JOIN stats s ON d.user_id = s.user_id
WHERE s.n_days >= 5 AND s.sigma > 0
  AND abs((d.val - s.mu) / s.sigma) > 2
"""


@register("events_anomaly", oracle=_ANOMALY_ORACLE)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-total outliers: days where the user's total value
    is more than 2 sample standard deviations from that user's mean —
    the standard data-quality screen before a series feeds a model.

    Plan: the daily rollup and the per-user moment aggregation share the
    user_id hash partitioning (the second groupBy reuses the first's
    Exchange), and the rejoin of stats onto daily is co-partitioned — at
    100 TB the only wide data movement is the initial rollup shuffle.
    `z` is (val-mu)/sigma in doubles on both engines; aggregation-order
    ulp noise is absorbed by the comparator's 12-significant-digit
    normalization (docs/dialect_notes.md), so it ships unrounded. The
    `> 2` cut is safe because no z in the data sits within float noise
    of the threshold (property-tested).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).agg(F.sum("value").alias("val"))
    stats = daily.groupBy("user_id").agg(
        F.avg("val").alias("mu"),
        F.stddev_samp("val").alias("sigma"),
        F.count("*").alias("n_days"),
    )
    z = (F.col("val") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(stats, "user_id")
        .filter((F.col("n_days") >= 5) & (F.col("sigma") > 0) & (F.abs(z) > 2))
        .select("user_id", "d", F.round("val", 2).alias("val"), z.alias("z"))
    )


# --------------------------------------------------------------------------
# Deterministic mode (most frequent value per group)
# --------------------------------------------------------------------------

_MODE_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id, event_type AS mode_type, n
FROM c
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY n DESC, event_type ASC) = 1
"""


@register("agg_mode", oracle=_MODE_ORACLE)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode aggregate with a DETERMINISTIC tie-break (count desc, then
    value asc) — `F.mode` itself is tie-nondeterministic, which would
    break the hash check (SURVEY.md §4.4), so the mode is expressed as
    count + row_number, the same construction the dedup-keep-latest op
    uses. Two aggregations and a window, all on the user_id key: one
    shuffle total, and Spark's WindowGroupLimit pushes the rn=1 filter
    below the full sort at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


# --------------------------------------------------------------------------
# Bigram vocabulary (top-5 bigrams per language)
# --------------------------------------------------------------------------

_BIGRAMS_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
pos AS (
  SELECT doc_id, lang, unnest(t) AS tok, generate_subscripts(t, 1) AS i
  FROM toks
),
bg AS (
  SELECT a.lang, a.tok || ' ' || b.tok AS bigram,
         CAST(count(*) AS BIGINT) AS n
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  GROUP BY 1, 2
)
SELECT lang, bigram, n
FROM bg
QUALIFY row_number() OVER (PARTITION BY lang
                           ORDER BY n DESC, bigram ASC) <= 5
"""


@register("text_bigrams", oracle=_BIGRAMS_ORACLE)
def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 bigrams per language — the vocabulary-building step of an
    n-gram LM / tokenizer-training pipeline.

    Plan: bigrams are formed INSIDE the row with `zip_with` over the
    token array and its shift (`slice(toks, 2, ...)`) — no positional
    self-join, no explode-then-join; the only explode emits the already-
    paired bigrams straight into a map-side-combined count. The oracle
    spells the same thing as a positional self-join because DuckDB lacks
    an array shift-zip, but the Spark plan never pays that join: at
    100 TB the difference is one shuffle of bigram partial counts vs a
    doc_id-joined token blowup. Tie-break (n desc, bigram asc) keeps the
    top-5 deterministic.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        bg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "bigram", "n")
    )


# --------------------------------------------------------------------------
# PageRank, 3 fixed iterations over the customer<->supplier trade graph
# --------------------------------------------------------------------------

_PAGERANK_ITERS = 3
_DAMPING = 0.85


def _node_label() -> "F.Column":
    """Integer node id -> display label under _trade_edges' encoding
    (custkey*2 -> cN even, suppkey*2+1 -> sN odd). ONE definition — the
    encoding and its decoding must change together (r9 review: two
    verbatim copies had to be hand-synchronized). Decode with INTEGER
    division (``div``), not ``/``: float division round-trips through a
    53-bit double mantissa, so node ids above 2**53 would decode to the
    wrong label (same hazard class as the _bitmap_words fix)."""
    return F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2"))
    ).otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))


@memo
def _trade_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Build-once-per-(session, sf_dir) cached trade graph: the doubled
    distinct (src, dst) edge list of the customer<->supplier graph,
    hash-partitioned by src, and |V| as a LAZY 1-row DataFrame
    (``n_nodes``) — scalars the formulas need ride in via
    crossJoin(broadcast(...)), the repo-wide pattern, so building the
    graph triggers no driver-side action. Shared by every trade-graph
    key (pagerank, k-core, LPA/modularity, BFS, walks, closeness) — the
    edge build (join + distinct over the fact table) is the expensive
    part and is paid once per session. The list is symmetric, so a
    node's in-edges are exactly the rows with ``src`` = that node: a
    consumer that needs degrees counts them partition-local off the
    cache (PageRank's 1/outdeg weight is derived per round, not stored).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # both directions from ONE e0 reference: separate references pick up
    # different inferred isnotnull filters, so exchange reuse misses and
    # the build scans, joins and de-duplicates lineitem twice.
    edges = e0.select(
        F.inline(
            F.array(
                F.struct("src", "dst"),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
            )
        )
    )
    # Packed into partitions of ~150k edges — every round of every
    # iterative consumer re-scans this cache, so its partition count
    # should track |E| (edges-per-partition budget), not the upstream
    # scan's file splits. r13 (VERDICT r12 task 9): partitioned BY src,
    # not round-robin — (a) the keyed exchange skips the local sort every
    # keyless repartition pays (sortBeforeRepartition), (b) each
    # BFS/closeness superstep joins the cache on src, so the edge side
    # is already distributed correctly and only the |V|-row state table
    # moves per round, and (c) PageRank's per-round groupBy(src) and
    # k-core's degree count run partition-local off the cached layout
    # (the cluster analogue is bucketing the edge list by src).
    n_edge_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    edges = edges.repartition(n_edge_parts, "src").cache()
    # |V| as a lazy 1-row aggregate OVER THE CACHE (distinct src = every
    # node, since the doubled edge list gives each node outdegree >= 1) —
    # no eager action; consumers crossJoin(broadcast(n_df)) it in. The
    # 1-row result is itself cached: the PageRank loop references it per
    # round and would otherwise rescan the edge cache each time.
    n_df = edges.agg(F.count_distinct("src").cast("bigint").alias("n_nodes")).cache()
    return edges, n_df


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (no recursion
    needed for a FIXED iteration count — each round is one aggregate)."""
    rounds = []
    prev = "r0"
    for i in range(1, _PAGERANK_ITERS + 1):
        rounds.append(
            f"""s{i} AS (
  SELECT e.dst AS node, sum(r.r / d.outdeg) AS s
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY 1
),
r{i} AS (
  SELECT s{i}.node, {1 - _DAMPING} / n.cnt + {_DAMPING} * s{i}.s AS r
  FROM s{i}, n
)"""
        )
        prev = f"r{i}"
    body = ",\n".join(rounds)
    return f"""
WITH e0 AS (
  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM deg),
r0 AS (SELECT node, 1.0 / n.cnt AS r FROM deg, n),
{body}
SELECT node, round(r * 1e6, 4) AS rank_ppm FROM {prev}
"""


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the undirected
    customer<->supplier trade graph (an edge per distinct customer/
    supplier pair that shared an order) — the canonical iterative graph
    algorithm, expressed Pregel-style as join + groupBy rounds.

    Every node has degree >= 1 by construction (no dangling mass) and
    the undirected doubling means every node also receives mass, so the
    rank vector stays a proper distribution without a dangling-sink
    correction term.

    Plan/scale: nodes are INTEGER-encoded (custkey*2 / suppkey*2+1 —
    joins and shuffles hash longs, not strings; the display label is
    reconstructed only in the final projection). The bare (src, dst)
    edge list is built once and cached per (session, sf_dir), hash-
    partitioned by src (``_trade_edges``). Rounds GATHER AT SRC: the
    list is symmetric, so node v's in-edges are exactly the rows with
    src = v. The |V|-row state (node, r, w=1/outdeg) is BROADCAST onto
    the cached edges by dst = node, and ``groupBy(src)`` sums r*w and
    counts the edges — the count is the next round's outdegree. That
    aggregate keys on the cache's own partitioning, so it runs in the
    cache scan's stage: no round shuffles (aggregating by dst would add
    a hashpartitioning(dst) exchange and a reduce stage per round). The
    initial state is the same partition-local count. This is Pregel's gather step on the vertex that owns
    the edge partition; per edge the product r(u) * (1.0/count(u)) is
    the same double as a dst-keyed round's, so only summation order can
    differ. The explicit broadcast is right while |V| ≪ |E| (here 16k
    nodes vs 1.2M directed edges; ranks for even 100M nodes ≈ a few GB —
    at billion-node scale drop the hint and bucket both sides on the
    node key so the join is co-partitioned instead). Each round after
    the first pins the previous round's |V|-row state with a lazy
    ``localCheckpoint`` before it is broadcast (r12): without it, round
    t's broadcast build re-executed rounds 1..t-1 over the cached edges
    — O(T²) edge passes for T rounds. The oracle unrolls the same 3
    rounds as chained CTEs. Ranks are emitted as round(r*1e6, 4) ppm:
    summation-order noise is ~1e-15 relative, many orders of magnitude
    inside the rounding step.
    """
    edges, n_df = _trade_edges(spark, sf_dir)

    def state(agg: DataFrame, r: "F.Column") -> DataFrame:
        # |V| rides in as a broadcast 1-row aggregate (lazy scalar — the
        # same 1/n and (1-d)/n each oracle round computes from n.cnt).
        return agg.crossJoin(F.broadcast(n_df)).select(
            F.col("src").alias("node"),
            r.alias("r"),
            (F.lit(1.0) / F.col("deg")).alias("w"),
        )

    ranks = state(
        edges.groupBy("src").agg(F.count("*").alias("deg")),
        F.lit(1.0) / F.col("n_nodes"),
    )
    for i in range(_PAGERANK_ITERS):
        # r12: pin the previous round's |V|-row state before it is
        # broadcast — round t's broadcast build otherwise re-executes
        # rounds 1..t-1 over the cached edges (O(T²) edge passes; the
        # graph_bfs_levels docstring documents the same re-execution
        # trap). Lazy localCheckpoint: 16k rows per round, and the
        # per-round lineage becomes one join+agg instead of the chain.
        # Cluster caveat (VERDICT r12): localCheckpoint blocks live on
        # executors without lineage — an executor loss mid-job is fatal
        # on a cluster; port with reliable .checkpoint() (replicated
        # dir) or a written intermediate. Local mode is single-process,
        # so the cheap form is strictly better here.
        if i > 0:
            ranks = ranks.localCheckpoint(eager=False)
        ranks = state(
            edges.join(F.broadcast(ranks), edges["dst"] == ranks["node"])
            .groupBy("src")
            .agg(
                F.sum(F.col("r") * F.col("w")).alias("s"),
                F.count("*").alias("deg"),
            ),
            F.lit(1 - _DAMPING) / F.col("n_nodes") + F.lit(_DAMPING) * F.col("s"),
        )
    label = _node_label()
    return ranks.select(
        label.alias("node"), F.round(F.col("r") * 1e6, 4).alias("rank_ppm")
    )


# --------------------------------------------------------------------------
# Inter-arrival (dwell) time statistics per user
# --------------------------------------------------------------------------

_DWELL_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) / 1000000.0 AS gap_s
  FROM events
)
SELECT user_id,
       CAST(count(gap_s) AS BIGINT) AS n_gaps,
       round(avg(gap_s), 4) AS mean_gap_s,
       round(max(gap_s), 4) AS max_gap_s,
       round(quantile_cont(gap_s, 0.5), 7) AS p50_gap_s
FROM gaps
WHERE gap_s IS NOT NULL
GROUP BY 1
"""


@register("events_dwell", oracle=_DWELL_ORACLE)
def events_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival (dwell) time profile: count, mean, max and
    exact median of the gaps between consecutive events — the activity-
    cadence profile behind bot screening and engagement scoring.

    One lag window over each user's (partition-local, (ts, event_id)-
    ordered) stream feeding a same-key aggregation: the groupBy reuses
    the window's user_id hash partitioning, so the whole query is ONE
    shuffle. Gaps are microsecond diffs divided by 1e6 (one exact IEEE
    division — identical across engines); the aggregates are rounded to
    4 decimals, and the median is the sort-based exact interpolated
    percentile (matches quantile_cont). The median rounds at 7 decimals,
    not 4: gaps are exact microsecond values k/1e6, so even-count medians
    are k/2e6 — odd multiples of 5e-5 sit EXACTLY on 4-decimal rounding
    boundaries (the agg_quantiles half-way hazard); every k/2e6 is a
    7-decimal GRID POINT, never a boundary.
    """
    ev = load_table(spark, sf_dir, "events")
    # the lag window is spelled inside the SQL expr (timestampdiff needs
    # expr form); no separate Window object so there is ONE spelling
    gaps = ev.select(
        "user_id",
        (
            F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                   "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
            / 1_000_000.0
        ).alias("gap_s"),
    )
    return (
        gaps.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
            F.round(F.max("gap_s"), 4).alias("max_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.5D)"), 7).alias("p50_gap_s"),
        )
    )


# --------------------------------------------------------------------------
# Last-touch marketing attribution
# --------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH typed AS (
  SELECT event_id, ts, user_id, event_type, value,
         ['email', 'search', 'social', 'ads']
           [CAST(CAST(json_extract_string(props, '$.k') AS INT) % 4 AS INT) + 1]
           AS channel
  FROM events
),
attributed AS (
  SELECT p.event_id AS purchase_id, p.value, c.channel
  FROM typed p
  JOIN typed c
    ON c.user_id = p.user_id AND c.event_type = 'click'
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 7 DAY
  WHERE p.event_type = 'purchase'
  QUALIFY row_number() OVER (PARTITION BY p.event_id
                             ORDER BY c.ts DESC, c.event_id DESC) = 1
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(value), 2) AS revenue,
       round(avg(value), 2) AS avg_order_value
FROM attributed
GROUP BY 1
"""


@register("events_attribution", oracle=_ATTRIBUTION_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase's value is credited to the
    channel of the user's most recent click within a 7-day lookback —
    the standard marketing-analytics join, mixing JSON extraction (the
    channel is derived from the click's props payload) with as-of
    matching and a bounded-key revenue rollup.

    Like `join_asof`, the match is ONE window pass over the interleaved
    per-user event stream (clicks sort before purchases on timestamp
    ties; among same-ts clicks the stream-order last wins) instead of
    the oracle's quadratic-per-user theta join; the lookback filter and
    the #channels-sized aggregation follow. One user-keyed shuffle plus
    a tiny agg exchange at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    channel = F.element_at(
        F.array(F.lit("email"), F.lit("search"), F.lit("social"), F.lit("ads")),
        (F.get_json_object("props", "$.k").cast("int") % 4 + 1).cast("int"),
    )
    tie = F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), tie, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts").alias("ts"), channel.alias("channel")),
    )
    lookback_us = 7 * 86400 * 1_000_000
    attributed = (
        ev.withColumn("last_click", F.last(click, ignorenulls=True).over(w))
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click").isNotNull()
            & (
                F.expr("timestampdiff(MICROSECOND, last_click.ts, ts)")
                <= lookback_us
            )
        )
        .select(F.col("last_click.channel").alias("channel"), "value")
    )
    return attributed.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("revenue"),
        F.round(F.avg("value"), 2).alias("avg_order_value"),
    )


# --------------------------------------------------------------------------
# Triangle counting on the part co-purchase graph
# --------------------------------------------------------------------------

@memo
def _order_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached distinct (order, part) projection — shared by
    graph_triangles and graph_basket_lift (the fact-table scan +
    distinct is the shared cost)."""
    li = load_table(spark, sf_dir, "lineitem")
    # r13 (guide §2.4 "two operations keyed the same way share one
    # exchange"): the cache is hash-partitioned by o BEFORE the
    # distinct — HashPartitioning(o) satisfies the (o, p) aggregate's
    # clustering requirement, so the distinct runs partition-local on
    # 32 tasks (previously its partial agg was fused into the
    # single-task scan), and every consumer's per-order self-join
    # (_oriented_copurchase's edge build, graph_basket_lift's pair
    # count) reads both sides already co-partitioned on o — zero
    # join exchanges where each run previously paid two.
    n = max(8, spark.sparkContext.defaultParallelism)
    return (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .repartition(n, "o")
        .distinct()
        .cache()
    )


@memo
def _out_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node sorted ORIENTED out-neighbor arrays (src -> [dst...]).
    The adjacency arrays are cached separately from the edge list
    because the collect_list groupBy is its own shuffle + array build
    (~1.5 s per materialization at sf0.1) and two broadcast subtrees
    would otherwise each recompute it."""
    oriented, _, _ = _oriented_copurchase(spark, sf_dir)
    return (
        oriented.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .cache()
    )


@memo
def _in_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node ORIENTED in-neighbor arrays (dst -> [src...]) — the
    mirror of ``_out_adjacency`` for supersteps that aggregate onto the
    RECEIVING endpoint (graph_hits_counts' a-steps). Unsorted: its only
    consumer folds an order-independent BIGINT sum over the array."""
    oriented, _, _ = _oriented_copurchase(spark, sf_dir)
    return (
        oriented.groupBy("dst")
        .agg(F.collect_list("src").alias("nbrs"))
        .cache()
    )


@memo
def _und_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node sorted UNDIRECTED neighbor-set arrays (u -> [v...]).
    graph_neighbor_minhash reads this table from FOUR subtrees (two
    band-join sides, two verify broadcasts); uncached, each evaluation
    re-ran the doubled-edge groupBy/collect_set shuffle — the dominant
    cost of that operator, paid ~4x per call before this memo (r9 review
    finding)."""
    _oriented, _deg, edges = _oriented_copurchase(spark, sf_dir)
    und = edges.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        edges.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    return (
        und.groupBy("u")
        .agg(F.sort_array(F.collect_set("v")).alias("nbrs"))
        .cache()
    )


@memo
def _triangle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per DAG triangle (u, v, w): each oriented edge (u, v)
    closed by every w in N+(u) ∩ N+(v). Shared by
    ``graph_neighbor_jaccard`` and ``graph_adamic_adar`` — before this
    memo each op built and cached its own copy of the identical
    |triangles|-row relation (r9 review finding). The adjacency joins
    are size-gated (broadcast under the gate, shuffled sort-merge above
    it — the 100 TB path)."""
    oriented, _deg, _edges = _oriented_copurchase(spark, sf_dir)
    adj = _out_adjacency(spark, sf_dir)
    au = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    return (
        oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(_size_gated_broadcast(au), "u")
        .join(_size_gated_broadcast(av), "v")
        .select(
            "u", "v", F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("w")
        )
        .cache()
    )


def _triangle_edge_legs(tris, with_third: bool = False) -> DataFrame:
    """Attribute each memoized (u, v, w) triangle row to its three edges
    (pa < pb), optionally carrying the THIRD node of each leg — the ONE
    attribution scheme ``graph_neighbor_jaccard`` (counts legs) and
    ``graph_adamic_adar`` (weights legs by the third node's degree)
    share (r10 review: two hand-synchronized three-way unions).

    r12: ONE scan + an explode of the three leg structs instead of a
    three-way unionAll — the union form scanned the |triangles|-row
    cached relation three times (the scan was ~1/3 of each consumer's
    steady-state wall clock); the exploded row count and every emitted
    value are identical."""
    legs = [("u", "v", "w"), ("u", "w", "v"), ("v", "w", "u")]
    structs = []
    for a, b, t in legs:
        fields = [F.least(a, b).alias("pa"), F.greatest(a, b).alias("pb")]
        if with_third:
            fields.append(F.col(t).alias("third"))
        structs.append(F.struct(*fields))
    out_cols = ["leg.pa", "leg.pb"] + (["leg.third"] if with_third else [])
    return tris.select(F.explode(F.array(*structs)).alias("leg")).select(*out_cols)


def _ranked_topk(scored: DataFrame, *order_cols) -> DataFrame:
    """Distributed top-_NBR_TOP with a rank column: orderBy+limit
    compiles to TakeOrderedAndProject (per-partition top-k's reduced at
    the driver — no single-task global sort of every scored edge); the
    row_number window then runs over just k rows. ONE copy of the tail
    the three neighbor-similarity operators previously repeated."""
    top = scored.orderBy(*order_cols).limit(_NBR_TOP)
    w = Window.orderBy(*order_cols)
    return top.withColumn("rk", F.row_number().over(w).cast("int"))


@memo
def _oriented_copurchase(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(degree-oriented co-purchase edge list, degree table, undirected
    edges), each cached."""
    op = _order_part(spark, sf_dir)
    a = op.select("o", F.col("p").alias("pa"))
    b = op.select("o", F.col("p").alias("pb"))
    # edges and deg are cached too (r9 review): they are returned to
    # consumers that broadcast them (graph_neighbor_jaccard's da/db,
    # graph_triangles' scalar counts) or re-derive adjacency from them
    # (_und_adjacency) — uncached, each such subtree re-ran the o x o
    # self-join + distinct shuffle per evaluation.
    edges = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
        .cache()
    )
    # r13 (the _triangle_edge_legs r12 trick applied here): ONE scan
    # of the edge cache + explode instead of a two-branch union that
    # scanned it twice per materialization; same (node, d) multiset.
    deg = (
        edges.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .cache()
    )
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("d_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("d_b"))
    ed = edges.join(F.broadcast(da), "pa").join(F.broadcast(db), "pb")
    fwd = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("pa") < F.col("pb"))
    )
    # r13 (same §2.4 layout rule as _trade_edges): the oriented
    # cache is hash-partitioned by src — _out_adjacency's collect_list
    # groupBy(src) and the HITS h-step groupBy(src) then run
    # partition-local off the cached layout (each previously paid its
    # own |E|-row exchange per materialization), and triangle_rows'
    # src-keyed adjacency join reads the big side already distributed.
    n_parts = max(8, spark.sparkContext.defaultParallelism // 4)
    oriented = ed.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    ).repartition(n_parts, "src").cache()
    return oriented, deg, edges


_TRIANGLES_ORACLE = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)
SELECT (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT pa AS x FROM edges UNION SELECT pb FROM edges)) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       CAST(count(*) AS BIGINT) AS n_triangles
FROM edges e1
JOIN edges e2 ON e2.pa = e1.pb
JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


@register("graph_triangles", oracle=_TRIANGLES_ORACLE)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph (parts are adjacent
    when some order contains both), via DEGREE ORIENTATION: every edge
    points from its lower-degree endpoint (id tie-break), turning the
    graph into a DAG where each triangle has exactly one node with two
    out-edges — so wedges form only at that node and the closing edge is
    checked in one equi-join, counting each triangle once.

    Why orientation matters: the naive wedge join keys on the middle
    node and blows up as sum(degree^2) — 288M wedge rows at sf0.1 (avg
    degree 120). Orientation bounds out-degree by ~sqrt(2|E|); triangles
    for an oriented edge (u,v) are |N+(u) ∩ N+(v)|, computed IN-ROW via
    array_intersect over per-node sorted out-neighbor arrays — wedge
    rows never materialize at all (the wedge self-join form measured
    6.2 s cold vs 5.3 s for this; more importantly the wedge shuffle
    disappears). The (u, v, w) triangle relation itself is the
    session-memoized ``_triangle_rows`` — one cached build shared with
    graph_neighbor_jaccard / graph_adamic_adar. The oriented edge list
    is cached (reused by the adjacency build and the probe side); the
    adjacency table is |V| rows
    with ≤ sqrt(2|E|)-length arrays. Its two joins are SIZE-GATED
    (``_size_gated_broadcast``): hinted broadcast while the plan-stats
    estimate fits, else the hint is withheld and Catalyst plans shuffled
    sort-merge joins on u / v — the 100 TB path, asserted both ways in
    tests/test_plans.py.
    """
    _oriented, deg, edges = _oriented_copurchase(spark, sf_dir)
    # count over the SESSION-MEMOIZED (u, v, w) triangle relation — the
    # same cached rows graph_neighbor_jaccard/graph_adamic_adar read, so
    # a session running the triangle family pays the adjacency joins and
    # the N+(u) ∩ N+(v) intersection exactly once (r10 review: this
    # operator rebuilt the identical subtree uncached). The exploded row
    # count equals the sum of intersection sizes, and count over zero
    # rows is already 0 — no triangle-free NULL special case needed.
    tri = _triangle_rows(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return nodes.crossJoin(n_edges).crossJoin(tri).select(
        "n_nodes", "n_edges", "n_triangles"
    )


# --------------------------------------------------------------------------
# Top session paths (ordered event-type sequences per session)
# --------------------------------------------------------------------------

_PATHS_TOP = 15
_PATHS_GAP_MIN = 30


_PATHS_ORACLE = f"""
WITH o AS (
    SELECT user_id, ts, event_id, event_type,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
    FROM events
), flagged AS (
    SELECT *, CASE WHEN prev_ts IS NULL
                     OR ts - prev_ts > INTERVAL {_PATHS_GAP_MIN} MINUTE
                   THEN 1 ELSE 0 END AS is_new
    FROM o
), sess AS (
    SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
), paths AS (
    SELECT user_id, sess_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '>') AS path
    FROM sess GROUP BY user_id, sess_id
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {_PATHS_TOP}
"""


@register("events_session_paths", oracle=_PATHS_ORACLE)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: sessionize (30-min gap, the lag-gap-cumsum
    kernel), concatenate each session's ordered event types into a path
    string, count sessions and distinct users per path — the
    path-analysis staple behind funnel discovery.

    Ordering inside a session is pinned by (ts, event_id): Spark sorts
    (ts, event_id, event_type) structs in-row with sort_array after
    collect_list (aggregation order is nondeterministic — the sort makes
    it total), matching the oracle's `list(... ORDER BY ts, event_id)`.
    One user_id shuffle for sessionize + collect (same partitioning
    reused), one bounded-key shuffle on path for the count, TakeOrdered
    for the top-15. Path cardinality is |event_types|^len — the group
    key stays stringy but uniform; at 100 TB hash it to 64-bit for the
    shuffle and rejoin the string for the survivors.
    """
    # r12: project to the four consumed columns BEFORE the user_id window
    # shuffle (guide §2.3 "project before the exchange") — the full-width
    # events row (incl. the wide props payload) otherwise rides through
    # the exchange, the window sort, and the collect_list structs.
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wo = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(wo)).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.col("ts") - F.col("prev_ts")
                > F.expr(f"INTERVAL {_PATHS_GAP_MIN} MINUTES")
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "sess_id",
        F.sum("is_new").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = sess.groupBy("user_id", "sess_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s.getField("event_type"),
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(_PATHS_TOP)
    )


# --------------------------------------------------------------------------
# Market-basket affinity (support / confidence / lift on co-purchases)
# --------------------------------------------------------------------------

_BASKET_MIN_PAIR = 3  # min orders containing the pair
_BASKET_TOP = 20


_BASKET_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n_orders FROM op),
part_cnt AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM op GROUP BY 1),
pair_cnt AS (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS n_pair
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
)
SELECT pc.pa, pc.pb, pc.n_pair, ca.n_p AS n_a, cb.n_p AS n_b,
       round(pc.n_pair / n.n_orders, 6) AS support,
       round(CAST(pc.n_pair AS DOUBLE) / ca.n_p, 6) AS confidence,
       round(pc.n_pair * n.n_orders / (ca.n_p * CAST(cb.n_p AS DOUBLE)), 6) AS lift
FROM pair_cnt pc
JOIN part_cnt ca ON ca.p = pc.pa
JOIN part_cnt cb ON cb.p = pc.pb
CROSS JOIN n
WHERE pc.n_pair >= {_BASKET_MIN_PAIR}
ORDER BY lift DESC, pc.pa ASC, pc.pb ASC
LIMIT {_BASKET_TOP}
"""


@register("graph_basket_lift", oracle=_BASKET_ORACLE)
def graph_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining: support / confidence / lift for
    part pairs co-occurring in orders (min support floor, top pairs by
    lift). Lift > 1 = bought together more than chance — the batch
    association-rules kernel.

    Plan shape: the (order, part) projection deduped once; pair counts
    come from the same per-order self-join as the co-purchase graph
    (equi-join on orderkey — per-order quadratic, bounded by basket
    size, never corpus-quadratic); part marginals broadcast into the
    pair table; TakeOrderedAndProject for the top-k. At 100 TB, baskets
    stay small (the blow-up is sum of basket^2) and the pair count
    shuffle is the only big exchange — identical to the triangle
    pipeline's edge build, so the same bucketing reuse applies.
    """
    op = _order_part(spark, sf_dir)
    # n_orders as a lazy 1-row aggregate crossJoined (broadcast) into the
    # output — like graph_triangles' n_nodes/n_edges — so constructing
    # the plan never triggers an eager Spark job.
    n = op.agg(F.countDistinct("o").cast("double").alias("n_orders"))
    a = op.select("o", F.col("p").alias("pa"))
    b = op.select("o", F.col("p").alias("pb"))
    pair_cnt = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_PAIR)
    )
    part_cnt = op.groupBy("p").agg(F.count("*").alias("n_p"))
    ca = part_cnt.select(F.col("p").alias("pa"), F.col("n_p").alias("n_a"))
    cb = part_cnt.select(F.col("p").alias("pb"), F.col("n_p").alias("n_b"))
    out = (
        pair_cnt.join(F.broadcast(ca), "pa")
        .join(F.broadcast(cb), "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa", "pb", "n_pair", "n_a", "n_b",
            F.round(F.col("n_pair") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_pair").cast("double") / F.col("n_a"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_pair") * F.col("n_orders")
                / (F.col("n_a") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("lift").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(_BASKET_TOP)


# --------------------------------------------------------------------------
# k-core decomposition (fixed peel rounds on the trade graph)
# --------------------------------------------------------------------------

_KCORE_K = 8
_KCORE_ROUNDS = 2


def _kcore_oracle() -> str:
    rounds = []
    prev_edges = "edges"
    for i in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
d{i} AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM {prev_edges} GROUP BY 1),
alive{i} AS (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),
e{i} AS (
  SELECT e.src, e.dst FROM {prev_edges} e
  JOIN alive{i} a ON a.node = e.src
  JOIN alive{i} b ON b.node = e.dst
)""")
        prev_edges = f"e{i}"
    body = ",".join(rounds)
    return f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
),{body},
dfinal AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM {prev_edges} GROUP BY 1)
SELECT CASE WHEN d1.node % 2 = 0 THEN 'c' || CAST(d1.node // 2 AS VARCHAR)
            ELSE 's' || CAST((d1.node - 1) // 2 AS VARCHAR) END AS node,
       d1.deg AS deg0,
       coalesce(dfinal.deg, 0) AS deg{_KCORE_ROUNDS},
       coalesce(dfinal.deg, 0) >= {_KCORE_K} AS in_core
FROM d1 LEFT JOIN dfinal ON dfinal.node = d1.node
"""


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=_KCORE_K, _KCORE_ROUNDS fixed peel
    rounds) on the undirected customer<->supplier trade graph: each round
    drops nodes with degree < k and recomputes degrees on the induced
    subgraph. Output per original node: initial degree, degree after the
    final round (0 if peeled), and the in-core verdict — the standard
    subgraph-density primitive (spam/bot rings, core community sizing)
    next to PageRank and triangle counting.

    Plan/scale: nodes are integer-encoded like ``graph_pagerank``, and
    the doubled edge list comes from the SAME per-session cached trade
    graph (``_trade_edges``) PageRank iterates over — the expensive
    join+distinct edge build is paid once for the whole graph family.
    Each round is (degree aggregate -> broadcast the O(|V|) survivor set
    onto the edge list twice) — edges are filtered in place, never
    re-shuffled; degree aggregation reuses the same src key. Fixed round
    count keeps the lineage shallow (full peeling iterates to a fixpoint
    — checkpoint every ~5 rounds at depth). The oracle unrolls the same
    rounds as chained CTEs.
    """
    edges, _n = _trade_edges(spark, sf_dir)

    def degrees(e: DataFrame) -> DataFrame:
        return e.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))

    # d1 is consumed TWICE (the round-1 survivor broadcast AND the final
    # output's left side) — pinned so the initial |E|-row degree pass
    # executes once per materialization (r12, the HITS-a2 pattern).
    d1 = degrees(edges).cache()
    cur = edges
    dcur = d1
    for _ in range(_KCORE_ROUNDS):
        alive = dcur.filter(F.col("deg") >= _KCORE_K).select("node")
        cur = (
            cur.join(
                F.broadcast(alive.withColumnRenamed("node", "src")), "src", "left_semi"
            )
            .join(
                F.broadcast(alive.withColumnRenamed("node", "dst")), "dst", "left_semi"
            )
        )
        dcur = degrees(cur)
    label = _node_label()
    dfinal = dcur.withColumnRenamed("deg", "deg_f")
    out = d1.join(dfinal.withColumnRenamed("node", "node_f"),
                  d1["node"] == F.col("node_f"), "left")
    return out.select(
        label.alias("node"),
        F.col("deg").alias("deg0"),
        F.coalesce("deg_f", F.lit(0)).alias(f"deg{_KCORE_ROUNDS}"),
        (F.coalesce("deg_f", F.lit(0)) >= _KCORE_K).alias("in_core"),
    )


# --------------------------------------------------------------------------
# Neighbor-overlap (Jaccard) edge similarity — link-prediction primitive
# --------------------------------------------------------------------------

_NBR_TOP = 50

_NBR_JACCARD_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
common AS (
  SELECT e.pa, e.pb, count(*) AS c
  FROM edges e
  JOIN und x ON x.u = e.pa
  JOIN und y ON y.u = e.pb AND y.v = x.v
  GROUP BY e.pa, e.pb
),
scored AS (
  SELECT c.pa, c.pb, c.c,
         da.d AS d_a, db.d AS d_b,
         floor(c.c * 1.0 / (da.d + db.d - c.c) * 1000000 + 0.5) / 1000000
           AS jaccard
  FROM common c
  JOIN deg da ON da.u = c.pa
  JOIN deg db ON db.u = c.pb
)
SELECT pa, pb, c AS n_common, d_a, d_b, jaccard,
       CAST(row_number() OVER (ORDER BY jaccard DESC, pa, pb) AS INT) AS rk
FROM scored
QUALIFY rk <= {_NBR_TOP}
"""


@register("graph_neighbor_jaccard", oracle=_NBR_JACCARD_ORACLE)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap similarity of adjacent part pairs: Jaccard of the
    two endpoints' neighbor sets, top-_NBR_TOP — the classic
    link-strength / link-prediction primitive (an edge whose endpoints
    share most neighbors is "embedded" in a community).

    Key identity: for an EDGE (a,b), a common neighbor x is exactly a
    triangle {a,b,x} — so per-edge common counts are triangle counts,
    computed on the degree-ORIENTED DAG (same machinery as
    ``graph_triangles``): explode each oriented edge's out-neighbor
    intersection into one row per triangle and attribute it to its
    three edges. Cost is sum over oriented edges of |N+| (bounded by
    orientation, ~sqrt(2|E|) out-degree) plus a 3x|triangles| integer
    shuffle with map-side combine — versus sum(deg_a+deg_b) for the
    naive per-edge full-neighborhood intersect (7x more element ops on
    this dense deg~120 graph, measured 4.1 s -> 2.3 s) and versus the
    sum(degree^2) wedge join the oracle states (~28M DuckDB rows at
    sf0.01; zero wedge rows here). Edges in no triangle have Jaccard 0
    and are excluded on both sides. The 100 TB moves: skewed graphs get
    the hub cap (drop top-degree nodes, which carry no similarity
    signal); the adjacency joins are size-gated via
    ``_size_gated_broadcast`` (broadcast under the gate, shuffled
    sort-merge on the node key above it); MinHash
    over neighbor sets (the dedup_near machinery) when even the
    oriented enumeration is too hot. Jaccard is a small-denominator
    rational -> IEEE floor-round to a 6-dp lattice BEFORE ranking
    (docs/dialect_notes.md).
    """
    _oriented, deg, _edges = _oriented_copurchase(spark, sf_dir)
    # |triangles| rows of three longs, consumed by THREE unionAll legs —
    # the session memo pins it so the adjacency joins + intersect explode
    # run once per session (shared with graph_adamic_adar), not 3x per call
    tris = _triangle_rows(spark, sf_dir)
    e3 = _triangle_edge_legs(tris)
    common = e3.groupBy("pa", "pb").agg(F.count(F.lit(1)).alias("n_common"))
    da = deg.select(F.col("node").alias("pa"), F.col("d").alias("d_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("d").alias("d_b"))
    c = F.col("n_common")
    jac = c * 1.0 / (F.col("d_a") + F.col("d_b") - c)
    # da/db stay HINTED broadcasts: the degree table is |V| rows of two
    # longs (not the heavy adjacency arrays the size gate protects), and
    # its UNCACHED plan-stats estimate is wildly pessimistic — gating on
    # it withheld the hint and forced two extra sort-merge shuffles
    # (measured 2.8 s -> 4.9 s on the sf0.1 bench before this revert).
    scored = (
        common.join(F.broadcast(da), "pa")
        .join(F.broadcast(db), "pb")
        .select(
            "pa",
            "pb",
            "n_common",
            "d_a",
            "d_b",
            (F.floor(jac * 1000000 + 0.5) / 1000000).alias("jaccard"),
        )
    )
    return _ranked_topk(
        scored, F.col("jaccard").desc(), F.col("pa").asc(), F.col("pb").asc()
    )


# --------------------------------------------------------------------------
# Label propagation (community detection), 2 synchronous rounds
# --------------------------------------------------------------------------

_LPA_ROUNDS = 2


def _lpa_ctes() -> str:
    """CTE chain ``e0, edges, l0 .. l{_LPA_ROUNDS}`` — the deterministic
    unrolled LPA rounds, shared by the LPA and modularity oracles."""
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""a{i} AS (
  SELECT e.dst AS node, l.lab AS lab, count(*) AS c
  FROM edges e JOIN {prev} l ON l.node = e.src
  GROUP BY 1, 2
),
l{i} AS (
  SELECT node, lab FROM a{i}
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lab ASC) = 1
)"""
        )
        prev = f"l{i}"
    body = ",\n".join(rounds)
    return f"""e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
{body}"""


def _lpa_oracle() -> str:
    return f"""
WITH {_lpa_ctes()}
SELECT CAST(lab AS BIGINT) AS community,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS rep
FROM l{_LPA_ROUNDS}
GROUP BY 1
"""


@memo
def _lpa_labels(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(per-node LPA labels after _LPA_ROUNDS synchronous rounds, doubled
    edge list) — shared by graph_label_propagation and graph_modularity.
    The rounds are deterministic, so the cached labels are identical to
    a rebuild; both consumers then skip the round joins."""
    edges, _n = _trade_edges(spark, sf_dir)
    # node set straight off the cached edges
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lab").asc())
    for _ in range(_LPA_ROUNDS):
        # r13: checkpoint + broadcast the |V|-row label table per round —
        # the superstep becomes a BroadcastHashJoin over the cached
        # src-partitioned edge list (no edge re-sort, no label
        # exchange+sort), the same pattern as graph_bfs_levels /
        # graph_closeness_sample this round. Cluster caveat as
        # graph_pagerank: localCheckpoint blocks are unrecoverable on
        # executor loss — port with reliable .checkpoint().
        labels = labels.localCheckpoint(eager=False)
        labels = (
            edges.join(F.broadcast(labels), edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lab")
        )
    return labels.cache(), edges


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (2 fixed rounds) over the doubled
    customer<->supplier trade graph: every node starts as its own label;
    each round it adopts the label held by the most neighbors (ties ->
    smallest label, so every round is deterministic and the oracle's
    unrolled CTEs reproduce it exactly). Output: per surviving community,
    its size and smallest member.

    Shares the session-cached edge list with pagerank/k-core
    (``_trade_edges``) — the expensive distinct-edge build is paid
    once. Each round is one join + one bounded aggregate: the join
    shuffles on node id, the (node, lab) count aggregate partial-combines
    map-side, and the argmax window rides the same node partitioning.

    100 TB: rounds are Pregel-style join+agg supersteps — the edge list
    stays hash-partitioned on src across rounds (one co-located shuffle
    per round, keyed by dst); label skew (giant communities)
    is bounded because messages aggregate to (node, lab) pairs, never
    fan out.
    """
    labels, _edges = _lpa_labels(spark, sf_dir)
    return labels.groupBy(F.col("lab").cast("bigint").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("rep"),
    )


# --------------------------------------------------------------------------
# BFS levels (multi-source shortest hops), 3 unrolled rounds
# --------------------------------------------------------------------------

_BFS_ROUNDS = 3
# Seed set: ALL nodes with id < 20 — customers c0..c9 (even ids) AND
# suppliers s0..s9 (odd ids); no parity filter is applied (unlike
# graph_walks_det's even-only anchors), and the oracle uses the same
# bare id bound, so both engines seed the identical ~20-node set.
_BFS_SEED_BELOW = 20


def _bfs_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _BFS_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM {prev}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM edges e JOIN {prev} d ON d.node = e.src
  ) GROUP BY node
)"""
        )
        prev = f"d{i}"
    body = ",\n".join(rounds)
    return f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
d0 AS (
  SELECT DISTINCT src AS node, 0 AS dist FROM edges WHERE src < {_BFS_SEED_BELOW}
),
{body}
SELECT CAST(dist AS INT) AS level,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS first_node
FROM {prev}
GROUP BY 1
"""


@register("graph_bfs_levels", oracle=_bfs_oracle())
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the trade graph: distance-from-seed-set in
    hops, _BFS_ROUNDS synchronous frontier expansions (Pregel
    min-distance propagation, the reachability/impact-radius primitive).
    Each round unions the current distances with neighbor distances + 1
    and keeps the min per node — monotone, so rounds are idempotent once
    the frontier stops growing, and the unrolled-CTE oracle reproduces
    them exactly. Output: per BFS level, node count + smallest node.

    Shares the session-cached doubled edge list (``_trade_edges``).
    Plan per round: one join (frontier x edges, shuffled on node) + one
    min-aggregate — message volume is bounded by |reached| x avg-degree,
    and the aggregate collapses it back to |reached| rows before the
    next round.

    r12 note: two rewrites measured-and-rejected at sf0.1 — (a)
    broadcasting the per-round distance table WITHOUT pinning it ran
    slower (each round's broadcast build re-executed the prior rounds'
    chain — the pagerank O(T²) trap); (b) a 1-row broadcast-map fold
    over adjacency arrays — Spark's GetMapValue LINEAR-SCANS the map
    per lookup, see graph_hits_counts. r13 lands (a) correctly: a lazy
    localCheckpoint of the frontier each round makes the broadcast
    build read stored blocks instead of replaying the chain, and the
    superstep becomes a BroadcastHashJoin over the src-partitioned edge
    cache — no edge re-sort, no frontier exchange+sort.

    100 TB: identical supersteps with the edge list bucketed on src so
    every round's join is co-located; swap the localCheckpoint for
    reliable .checkpoint() (executor loss would otherwise be fatal
    mid-job) every few rounds.
    """
    edges, _n = _trade_edges(spark, sf_dir)
    dist = (
        edges.filter(F.col("src") < _BFS_SEED_BELOW)
        .select(F.col("src").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
    )
    for _ in range(_BFS_ROUNDS):
        # r13: broadcast the checkpointed |reached|-row frontier onto the
        # cached edge list — same pattern and rationale as
        # graph_closeness_sample above. This is rejected-rewrite (a) from
        # the r12 note PLUS the lazy localCheckpoint that fixes why it
        # lost (the per-round broadcast build re-executed the prior
        # rounds' chain). Cluster caveat: localCheckpoint blocks live on
        # executors without lineage — port with reliable .checkpoint()
        # or a written intermediate.
        dist = dist.localCheckpoint(eager=False)
        nbr = (
            edges.join(F.broadcast(dist), edges["src"] == dist["node"])
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = dist.unionByName(nbr).groupBy("node").agg(F.min("dist").alias("dist"))
    return dist.groupBy(F.col("dist").cast("int").alias("level")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("node").cast("bigint").alias("first_node"),
    )


# Sparse trade graph for connected components: only max-quantity,
# high-discount lineitems link customer (2k) and supplier (2k+1) nodes —
# sparse enough that the graph splits into many components (65 at
# sf0.01) instead of the one giant component the full trade graph forms.
_CC_COND = "l_quantity = 50 AND l_discount >= 0.08"


# Round bound of the alternating-star loop, which takes O(log n) rounds
# in practice; a graph that has not converged by then raises instead of
# returning unconverged stars.
_CC_MAX_ROUNDS = 30


@register(
    "graph_cc_alternating",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE {_CC_COND}
),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(node, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.node
),
lab AS (SELECT node, min(r) AS component_id FROM reach GROUP BY node)
SELECT component_id,
       CAST(count(*) AS BIGINT)                          AS n_nodes,
       CAST(count(*) FILTER (WHERE node % 2 = 0) AS BIGINT) AS n_customers,
       CAST(count(*) FILTER (WHERE node % 2 = 1) AS BIGINT) AS n_suppliers
FROM lab
GROUP BY component_id
""",
)
def graph_cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    published O(log n)-round MapReduce CC algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) that
    ``dedup_clusters``'s docstring reserves for pathological-diameter
    graphs at 100 TB; here it is implemented for real.

    Each round is two pure DataFrame passes over the CANONICAL edge list
    (a < b, deduped):
      * large-star: every node u links its LARGER neighbors v > u to
        m(u) = min(N(u) + u) — one groupBy-min + one self-join;
      * small-star: every node u links its smaller neighbors and itself
        to min(N_smaller(u)) — same shape, opposite orientation.
    Edges only ever move toward component minima, so the canonical edge
    multiset's (count, sum) signature is a monotone convergence witness
    — the loop stops when one round leaves it unchanged (star graphs
    rooted at component minima are the fixpoint). Per-round
    ``localCheckpoint`` truncates lineage exactly as dedup_clusters
    does. Unlike plain min-label propagation (rounds = graph diameter),
    round count here is O(log n) on chains — the scale-safe choice when
    component shape is unknown. The oracle is the same recursive-CTE
    transitive closure the label-propagation operator uses.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .filter(F.expr(_CC_COND))
        .select(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .distinct()
    )
    # canonical undirected edges, a < b (cust ids even, supp odd => a != b)
    # r13 measured-and-rejected: lazy checkpoints (sig aggregate as the
    # materializing action) + explicit broadcast(m) in both stars — ABBA
    # cold 4.29 -> 5.04 s, warm flat (4.09/4.11). The loop's cost is the
    # per-round job floor of a 3k-edge graph, and the extra broadcast-
    # build jobs outweigh the saved eager-checkpoint job. The eager
    # per-round checkpoint stays (it truncates the fixpoint lineage —
    # same role as dedup_clusters'; cluster port: reliable .checkpoint()).
    edges = pairs.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).localCheckpoint(eager=True)

    def both_dir(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def canonical(pairs_uv: DataFrame) -> DataFrame:
        return (
            pairs_uv.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        bd = both_dir(e)
        m = bd.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        out = (
            bd.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return canonical(out)

    def small_star(e: DataFrame) -> DataFrame:
        # orient each edge from its larger endpoint: u > v
        down = both_dir(e).filter(F.col("v") < F.col("u"))
        m = down.groupBy("u").agg(F.min("v").alias("m"))
        links = down.join(m, "u").select("v", "m")
        selfs = m.select(F.col("u").alias("v"), "m")
        return canonical(
            links.unionByName(selfs).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        )

    prev_sig = None
    for _ in range(_CC_MAX_ROUNDS):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        sig = tuple(
            edges.agg(
                F.count(F.lit(1)), F.sum("a"), F.sum("b")
            ).first()
        )
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"graph_cc_alternating did not converge in {_CC_MAX_ROUNDS} rounds"
        )

    # fixpoint edges are (root, child) stars. Every input node is still
    # an endpoint here: both star ops re-emit every node each round
    # (large-star keeps u via its smaller-neighbor edges or as its own
    # minimum; small-star keeps larger endpoints via the self links) —
    # r10 review removed a provably-dead isolated-node union branch and
    # the eager all_nodes checkpoint that fed it. label = min neighbor
    labels = (
        both_dir(edges)
        .groupBy(F.col("u").alias("node"))
        .agg(F.least(F.min("v"), F.col("node")).alias("component_id"))
    )
    return labels.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.count_if(F.col("node") % 2 == 0).alias("n_customers"),
        F.count_if(F.col("node") % 2 == 1).alias("n_suppliers"),
    )


@register(
    "graph_modularity",
    oracle=f"""
WITH {_lpa_ctes()},
deg AS (SELECT src AS node, CAST(count(*) AS HUGEINT) AS d FROM edges GROUP BY 1),
mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
com AS (
  SELECT l.lab, sum(d.d) AS d_c
  FROM l{_LPA_ROUNDS} l JOIN deg d ON d.node = l.node
  GROUP BY 1
),
intra AS (
  SELECT ls.lab, CAST(count(*) AS HUGEINT) AS e_c
  FROM e0
  JOIN l{_LPA_ROUNDS} ls ON ls.node = e0.src
  JOIN l{_LPA_ROUNDS} ld ON ld.node = e0.dst AND ld.lab = ls.lab
  GROUP BY 1
),
terms AS (
  SELECT com.lab,
         4 * mm.m * coalesce(intra.e_c, 0) - com.d_c * com.d_c AS t
  FROM com CROSS JOIN mm LEFT JOIN intra ON intra.lab = com.lab
)
SELECT CAST(count(*) AS BIGINT)                          AS n_communities,
       CAST(max(mm.m) AS BIGINT)                         AS m_edges,
       CAST(sum(terms.t) AS BIGINT)                      AS q_num,
       CAST(sum(terms.t) AS DOUBLE)
         / CAST(4 * max(mm.m) * max(mm.m) AS DOUBLE)     AS modularity
FROM terms CROSS JOIN mm
""",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities on the trade graph — the
    quality score that turns "we found communities" into a number:
    Q = sum_c [ e_c/m - (d_c/2m)^2 ], rewritten over exact integers as
    Q = sum_c (4*m*e_c - d_c^2) / (4*m^2) so the whole computation is
    integer until ONE final division of bit-identical operands (the
    repo's standard float-determinism move; no lattice rounding needed).

    Reuses the memoized trade edge list and the deterministic LPA rounds
    (``_lpa_labels``); the additional work is two bounded aggregations
    (degree per node, degree mass per community) and one edge pass that
    joins each edge's two endpoint labels — at 100 TB that pass shuffles
    the edge list twice on node id (same class as one LPA superstep;
    with the edge list hash-partitioned on src the first probe is
    co-located). Output is a single audit row: community count, edge
    count, the exact integer numerator, and Q.
    """
    labels, edges = _lpa_labels(spark, sf_dir)
    e0 = edges.filter(F.col("src") % 2 == 0)
    dec = "decimal(38,0)"
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast(dec).alias("d")
    )
    m = e0.agg(F.count(F.lit(1)).cast(dec).alias("m"))
    com = (
        labels.join(deg, "node")
        .groupBy("lab")
        .agg(F.sum("d").cast(dec).alias("d_c"))
    )
    ls = labels.select(F.col("node").alias("src"), F.col("lab").alias("lab_s"))
    ld = labels.select(F.col("node").alias("dst"), F.col("lab").alias("lab_d"))
    intra = (
        e0.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("lab_s") == F.col("lab_d"))
        .groupBy(F.col("lab_s").alias("lab"))
        .agg(F.count(F.lit(1)).cast(dec).alias("e_c"))
    )
    terms = (
        com.crossJoin(F.broadcast(m))
        .join(intra, "lab", "left")
        .select(
            "lab",
            "m",
            (
                F.lit(4).cast(dec) * F.col("m") * F.coalesce("e_c", F.lit(0).cast(dec))
                - F.col("d_c") * F.col("d_c")
            ).alias("t"),
        )
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("m").cast("bigint").alias("m_edges"),
        F.sum("t").cast("bigint").alias("q_num"),
        (
            F.sum("t").cast("double")
            / (F.lit(4).cast(dec) * F.max("m") * F.max("m")).cast("double")
        ).alias("modularity"),
    )


_WALK_STEPS = 3
_WALK_SEED_BELOW = 40  # start set: customer nodes (even ids) < 40 -> <=20 walks


def _walks_oracle() -> str:
    ctes = [
        f"""w0 AS (
  SELECT DISTINCT src AS start, src AS cur
  FROM edges WHERE src % 2 = 0 AND src < {_WALK_SEED_BELOW}
)"""
    ]
    prev = "w0"
    for t in range(1, _WALK_STEPS + 1):
        ctes.append(
            f"""w{t} AS (
  SELECT p.start, e.dst AS cur
  FROM {prev} p JOIN edges e ON e.src = p.cur
  QUALIFY row_number() OVER (
    PARTITION BY p.start
    ORDER BY md5(CAST(p.cur AS VARCHAR) || '|{t}|' || CAST(e.dst AS VARCHAR)),
             e.dst
  ) = 1
)"""
        )
        prev = f"w{t}"
    steps = ",\n".join(ctes)
    sel = ", ".join(f"CAST(w{t}.cur AS BIGINT) AS s{t}" for t in range(1, _WALK_STEPS + 1))
    joins = " ".join(f"JOIN w{t} ON w{t}.start = w0.start" for t in range(1, _WALK_STEPS + 1))
    return f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
{steps}
SELECT CAST(w0.start AS BIGINT) AS start, {sel}
FROM w0 {joins}
"""


@register("graph_walks_det", oracle=_walks_oracle())
def graph_walks_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic "random" walks over the trade graph — the corpus
    generator for graph-embedding training (DeepWalk/node2vec feed
    sequences of neighbors into a skip-gram model): from each seed
    customer, _WALK_STEPS steps where the next hop is the neighbor
    minimizing md5(cur || '|' || step || '|' || neighbor). The hash
    argmin IS the walk's randomness — uniform-ish over neighbors yet
    bit-reproducible across engines, partitionings, and reruns, the
    same determinism contract as the md5 samplers (a seeded PRNG walk
    is partition-order-dependent in Spark; a hash walk never is).

    Each step is one frontier-to-edges equi-join + per-walk argmin
    window — Pregel supersteps over the session-cached edge list. r12
    (guide §2.4/§1.2): the visited hops ride ALONG the frontier as
    carried columns (a few ints per walk) instead of being re-joined at
    the end — the prior form joined hop t's DataFrame into the output,
    and hop t's lineage contains ALL earlier steps, so the step chain
    re-executed O(T²) times across the final join. Row semantics are
    unchanged: both forms drop a walk at the step where it dies (inner
    joins shrink monotonically), every hop value is the same argmin.
    At 100 TB with millions of walks, the frontier join co-locates on
    the cached edge partitioning and the window keys on walk id;
    neither moves the full edge list after the first shuffle.
    """
    edges, _n = _trade_edges(spark, sf_dir)
    walks = (
        edges.filter((F.col("src") % 2 == 0) & (F.col("src") < _WALK_SEED_BELOW))
        .select(F.col("src").alias("start"))
        .distinct()
        .withColumn("cur", F.col("start"))
    )
    for t in range(1, _WALK_STEPS + 1):
        gate = F.md5(
            F.concat(
                F.col("cur").cast("string"),
                F.lit(f"|{t}|"),
                F.col("dst").cast("string"),
            )
        )
        wname = Window.partitionBy("start").orderBy(gate.asc(), F.col("dst").asc())
        carry = [F.col(f"s{i}") for i in range(1, t)]
        walks = (
            walks.join(edges, walks["cur"] == edges["src"])
            .withColumn("rn", F.row_number().over(wname))
            .filter(F.col("rn") == 1)
            .select("start", *carry, F.col("dst").alias(f"s{t}"))
            .withColumn("cur", F.col(f"s{t}"))
        )
    return walks.select(
        F.col("start").cast("bigint").alias("start"),
        *[
            F.col(f"s{t}").cast("bigint").alias(f"s{t}")
            for t in range(1, _WALK_STEPS + 1)
        ],
    )


# --------------------------------------------------------------------------
# MinHash-LSH neighbor similarity (the 100 TB fallback for neighbor-Jaccard)
# --------------------------------------------------------------------------

# Neighbor-set jaccards live in the LOW-similarity regime (~0.1 on the
# dense co-purchase graph), so the banding is 16 bands x 1 row:
# P(capture) = 1-(1-j)^16 (~0.8 at j=0.1), vs the dedup family's 4x4
# tuned for j >= 0.7. Rows-per-band 1 means the bucket IS the signature.
_NBR_MH_BANDS, _NBR_MH_ROWS = 16, 1
# Stop-bucket guard: a hot (band, bucket) pairs every member with every
# other (n^2) while carrying little similarity signal — the same guard as
# the shingle DF caps. 20 bounds sf0.1's candidate mass at ~260k pairs
# (uncapped: ~20M, which OOMs the verify join's array shuffle).
_NBR_MH_BUCKET_CAP = 20

_NBR_BANDS_UDF = None


def _nbr_band_buckets(col):
    """array<bigint> neighbor ids -> array<bigint> LSH band buckets.

    The dedup_near MinHash machinery applied to NEIGHBOR SETS: signature
    j = min over neighbors x of (MH_A[j]*x + MH_B[j]) % P (no string
    hashing — node ids are already ints), then each band of
    ROWS_PER_BAND signatures folds to one bucket via the SH_MIX combine.
    Pure int64 arithmetic (max intermediate ≈ P·SH_MIX ≈ 2.1e15), so the
    DuckDB spelling is bit-identical and the CANDIDATE SET itself —
    not just the verified output — matches across engines.
    """
    from bangdatapipeline_spark.operators.dedup_near import MH_A, MH_B, P, SH_MIX

    BANDS, ROWS_PER_BAND = _NBR_MH_BANDS, _NBR_MH_ROWS

    global _NBR_BANDS_UDF
    if _NBR_BANDS_UDF is None:
        a = np.array(MH_A, dtype=np.int64)[:, None]
        b = np.array(MH_B, dtype=np.int64)[:, None]

        @F.pandas_udf("array<bigint>")
        def _bands(nbrs: pd.Series) -> pd.Series:
            # r12: vectorized across the whole Arrow batch (the previous
            # per-row loop paid ~20k tiny numpy dispatches per batch) —
            # flatten every neighbor list into one array, compute all
            # K x total_neighbors signatures in one shot, and segment-min
            # back to per-node signatures with minimum.reduceat. Same
            # integer lattice, same results.
            lists = nbrs.to_numpy()
            n = len(lists)
            if n == 0:
                return pd.Series([], dtype=object)
            lens = np.fromiter((len(v) for v in lists), dtype=np.int64, count=n)
            flat = np.concatenate([np.asarray(v, dtype=np.int64) for v in lists])
            # reduce mod P BEFORE the multiply (r10 review): a < P
            # and x%P < P keep a*x under 2^62 for ANY int64 id —
            # unreduced, ids >= ~4.3e9 wrap silently in np.int64
            # while the oracle's BIGINT errors (same class as the
            # CMS fix in aggregates.py)
            x = flat % P
            sig_all = (a * x[None, :] + b) % P  # K x total_neighbors
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # adjacency rows are non-empty by construction (every node has
            # at least one neighbor), which reduceat's segmentation needs
            sigs = np.minimum.reduceat(sig_all, starts, axis=1)  # K x n
            acc = np.zeros((BANDS, n), dtype=np.int64)
            for r in range(ROWS_PER_BAND):
                rows = sigs[r::ROWS_PER_BAND][:BANDS]
                acc = (acc * SH_MIX + rows) % P
            return pd.Series(list(acc.T), dtype=object)

        _NBR_BANDS_UDF = _bands
    return _NBR_BANDS_UDF(col)


def _nbr_minhash_oracle() -> str:
    from bangdatapipeline_spark.operators.dedup_near import MH_A, MH_B, P, SH_MIX

    BANDS, ROWS_PER_BAND = _NBR_MH_BANDS, _NBR_MH_ROWS

    sigs = ", ".join(
        f"list_min(list_transform(nbrs, x -> ({MH_A[j]} * (x % {P}) + {MH_B[j]}) % {P}))"
        for j in range(len(MH_A))
    )
    band_rows = []
    for band in range(BANDS):
        expr = f"s[{band * ROWS_PER_BAND + 1}]"
        for r in range(1, ROWS_PER_BAND):
            expr = f"(({expr}) * {SH_MIX} + s[{band * ROWS_PER_BAND + r + 1}]) % {P}"
        band_rows.append(f"SELECT u, {band} AS b, {expr} AS bkt FROM sig")
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
),
nb AS (SELECT u, list_sort(list(DISTINCT v)) AS nbrs FROM und GROUP BY u),
sig AS (SELECT u, [{sigs}] AS s FROM nb),
bands AS ({bands_sql}),
keep AS (
  SELECT b, bkt FROM bands GROUP BY b, bkt
  HAVING count(*) <= {_NBR_MH_BUCKET_CAP}
),
bk AS (SELECT bands.* FROM bands JOIN keep USING (b, bkt)),
cand AS (
  SELECT DISTINCT x.u AS pa, y.u AS pb
  FROM bk x JOIN bk y ON x.b = y.b AND x.bkt = y.bkt AND x.u < y.u
),
ver AS (
  SELECT c.pa, c.pb,
         len(list_intersect(na.nbrs, nbb.nbrs)) AS cnum,
         len(na.nbrs) AS d_a, len(nbb.nbrs) AS d_b
  FROM cand c
  JOIN nb na  ON na.u  = c.pa
  JOIN nb nbb ON nbb.u = c.pb
),
scored AS (
  SELECT pa, pb,
         CAST(cnum AS BIGINT) AS n_common,
         CAST(d_a AS BIGINT)  AS d_a,
         CAST(d_b AS BIGINT)  AS d_b,
         floor(cnum * 1.0 / (d_a + d_b - cnum) * 1000000 + 0.5) / 1000000
           AS jaccard
  FROM ver
)
SELECT pa, pb, n_common, d_a, d_b, jaccard,
       CAST(row_number() OVER (ORDER BY jaccard DESC, pa, pb) AS INT) AS rk
FROM scored
QUALIFY rk <= {_NBR_TOP}
"""


@register("graph_neighbor_minhash", oracle=_nbr_minhash_oracle())
def graph_neighbor_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH neighbor similarity — the documented 100 TB fallback
    of ``graph_neighbor_jaccard``: when even the oriented triangle
    enumeration is too hot, per-node MinHash signatures over NEIGHBOR
    SETS band-bucket into candidates and only candidate pairs pay the
    exact intersection. No triangle pass, no per-edge enumeration —
    signature cost is |und| minhash updates, the band join shuffles
    (band, bucket, node) ints, and exact verification touches candidate
    pairs only.

    All arithmetic is the dedup_near integer lattice over node ids (no
    string hashing), so the DuckDB oracle reproduces the IDENTICAL
    candidate set; output is the verified top-_NBR_TOP captured pairs
    (jaccard floor-rounded to the shared 6-dp lattice before ranking),
    directly comparable against the exact detector's top-_NBR_TOP —
    the recall-vs-cost dial of the banded scheme.
    """
    # session-memoized neighbor-set table: FOUR subtrees below read it
    # (two band-join sides, two verify broadcasts) — uncached it was
    # recomputed per subtree (r9 review, ~4x the dominant shuffle)
    nb = _und_adjacency(spark, sf_dir)
    # r12 measured-and-rejected: localCheckpoint-pinning bands (it feeds
    # both the stop-bucket aggregate and bk) made warm runs 1.95->2.67 s:
    # the checkpoint's per-call RDD id makes bk's canonicalized plan
    # unique per run, so bk's .cache() stops deduping across runs and
    # every run rebuilds the band table. Rule recorded: never put a
    # localCheckpoint UPSTREAM of a .cache() that relies on plan-identity
    # reuse across runs.
    # r13 (guide §2.4): the band stream is hash-partitioned on the
    # (b, bkt) band key right after the signature kernel. Everything
    # below is keyed on it — the stop-bucket groupBy, the keep join, and
    # BOTH candidate self-join sides — so they all run partition-local
    # off this ONE exchange; and because keep and bk consume the
    # IDENTICAL exchange subtree, ReuseExchange dedupes it in the build
    # plan, so the banded-minhash kernel runs ONCE per build instead of
    # once per consumer.
    bands = nb.select(
        "u", F.posexplode(_nbr_band_buckets(F.col("nbrs"))).alias("b", "bkt")
    ).repartition(max(8, spark.sparkContext.defaultParallelism), "b", "bkt")
    keep = (
        bands.groupBy("b", "bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _NBR_MH_BUCKET_CAP)
        .select("b", "bkt")
    )
    # stop-bucket guard applied once; bk feeds both self-join sides
    bk = bands.join(keep, ["b", "bkt"]).cache()
    x = bk.select(F.col("u").alias("pa"), "b", "bkt")
    y = bk.select(F.col("u").alias("pb"), "b", "bkt")
    cand = (
        x.join(y, ["b", "bkt"])
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    na = nb.select(F.col("u").alias("pa"), F.col("nbrs").alias("nbrs_a"))
    nbb = nb.select(F.col("u").alias("pb"), F.col("nbrs").alias("nbrs_b"))
    # broadcast the |V|-row neighbor-array table (~20 MB here) so the
    # candidate verify is a stream probe, never a sort-merge that sorts
    # array rows (the memory hazard in a long cache-laden session); at
    # cluster scale with |V| past the broadcast limit, bucket both sides
    # on the node key instead — same note as the triangle machinery
    ver = (
        cand.join(F.broadcast(na), "pa")
        .join(F.broadcast(nbb), "pb")
        .select(
            "pa",
            "pb",
            F.size(F.array_intersect("nbrs_a", "nbrs_b")).cast("bigint").alias("n_common"),
            F.size("nbrs_a").cast("bigint").alias("d_a"),
            F.size("nbrs_b").cast("bigint").alias("d_b"),
        )
    )
    jac = F.col("n_common") * 1.0 / (F.col("d_a") + F.col("d_b") - F.col("n_common"))
    scored = ver.select(
        "pa",
        "pb",
        "n_common",
        "d_a",
        "d_b",
        (F.floor(jac * 1000000 + 0.5) / 1000000).alias("jaccard"),
    )
    return _ranked_topk(
        scored, F.col("jaccard").desc(), F.col("pa").asc(), F.col("pb").asc()
    )


# ---------------------------------------------------------------------------
# Degree assortativity
# ---------------------------------------------------------------------------

@register(
    "graph_degree_assortativity",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT pa AS node FROM edges UNION ALL SELECT pb FROM edges)
  GROUP BY node
),
pairs AS (
  SELECT da.d AS dx, db.d AS dy
  FROM edges e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb
  UNION ALL
  SELECT db.d, da.d
  FROM edges e JOIN deg da ON da.node = e.pa JOIN deg db ON db.node = e.pb
),
s AS (
  SELECT CAST(count(*) AS BIGINT)   AS n,
         CAST(sum(dx) AS BIGINT)    AS sx,
         CAST(sum(dy) AS BIGINT)    AS sy,
         CAST(sum(dx*dy) AS BIGINT) AS sxy,
         CAST(sum(dx*dx) AS BIGINT) AS sx2,
         CAST(sum(dy*dy) AS BIGINT) AS sy2
  FROM pairs
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg)   AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS assortativity
FROM s
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the part co-purchase graph: the
    Pearson correlation of endpoint degrees over all directed edge
    stubs — do hubs attach to hubs (r > 0, social-network-like) or to
    leaves (r < 0, hub-and-spoke)? The one-number mixing summary a graph
    team checks before choosing a partitioning strategy: disassortative
    graphs concentrate shuffle traffic on hub partitions.

    Every co-moment (n, sum dx, sum dx*dy, sum dx^2 ...) is an exact
    BIGINT aggregate over the degree-joined edge list — degrees are
    integers, so the Pearson numerator/denominator derive from exact
    integer sums, and the only float ops are the final two double
    conversions, one multiply, sqrt and divide, identical expressions in
    both engines (the variance PRODUCT would overflow 64-bit, so each
    exact BIGINT factor converts to double first; the 6-dp lattice
    absorbs nothing — there is no fold order to absorb). Reuses the
    memoized degree-oriented edge builder: one shuffle to build edges,
    two broadcast degree joins, a single-row reduction. At 100 TB the
    edge list is the only big relation and it streams through one
    map-side-combined aggregate.
    """
    # everything derives from the CACHED memo relations: `deg` has been
    # cached in _oriented_copurchase since the r9 fix (r10 review: this
    # operator still rebuilt its own degree table from oriented stubs —
    # the identical multiset, since orientation only reorders endpoints —
    # and evaluated that uncached union+groupBy once per broadcast
    # subtree plus once for n_nodes)
    oriented, deg, _edges = _oriented_copurchase(spark, sf_dir)
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("d_a"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("d_b"))
    ed = oriented.join(F.broadcast(da), "src").join(F.broadcast(db), "dst")
    # the directed-stub multiset is symmetric (every edge contributes
    # (d_a,d_b) AND (d_b,d_a)), so all six co-moments derive from ONE
    # pass over the degree-joined edges: sx == sy, sxy doubles, the
    # squares add — exactly the oracle's UNION ALL sums, half the work
    s = ed.agg(
        (F.count(F.lit(1)) * 2).alias("n"),
        (F.sum("d_a") + F.sum("d_b")).alias("sx"),
        (F.sum("d_a") + F.sum("d_b")).alias("sy"),
        (F.sum(F.col("d_a") * F.col("d_b")) * 2).alias("sxy"),
        (F.sum(F.col("d_a") * F.col("d_a")) + F.sum(F.col("d_b") * F.col("d_b"))).alias("sx2"),
        (F.sum(F.col("d_a") * F.col("d_a")) + F.sum(F.col("d_b") * F.col("d_b"))).alias("sy2"),
    )
    counts = deg.agg(F.count(F.lit(1)).alias("n_nodes")).crossJoin(
        oriented.agg(F.count(F.lit(1)).alias("n_edges"))
    )
    # cast each exact-BIGINT factor to double BEFORE multiplying: on big
    # graphs n*sxy exceeds int64 and non-ANSI Spark would silently wrap
    # (the DuckDB twin errors) — as double the products are the same IEEE
    # ops in both engines and the final 6-dp round is unchanged
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    var_x = n_d * F.col("sx2").cast("double") - sx_d * sx_d
    var_y = n_d * F.col("sy2").cast("double") - sy_d * sy_d
    r = num / F.sqrt(var_x * var_y)
    return counts.crossJoin(F.broadcast(s)).select(
        "n_nodes",
        "n_edges",
        (F.floor(r * 1000000 + F.lit(0.5)) / 1000000).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# HITS (hubs/authorities), exact-integer 2-step path counts
# ---------------------------------------------------------------------------

@register(
    "graph_hits_counts",
    oracle="""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0)
  GROUP BY node
),
ored AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e0.pa < e0.pb)
              THEN e0.pa ELSE e0.pb END AS src,
         CASE WHEN da.d < db.d OR (da.d = db.d AND e0.pa < e0.pb)
              THEN e0.pb ELSE e0.pa END AS dst
  FROM e0 JOIN deg da ON da.node = e0.pa JOIN deg db ON db.node = e0.pb
),
a1 AS (SELECT dst AS node, CAST(count(*) AS BIGINT) AS a FROM ored GROUP BY dst),
h1 AS (
  SELECT o.src AS node, CAST(sum(a1.a) AS BIGINT) AS h
  FROM ored o JOIN a1 ON a1.node = o.dst GROUP BY o.src
),
a2 AS (
  SELECT o.dst AS node, CAST(sum(h1.h) AS BIGINT) AS a
  FROM ored o JOIN h1 ON h1.node = o.src GROUP BY o.dst
),
h2 AS (
  SELECT o.src AS node, CAST(sum(a2.a) AS BIGINT) AS h
  FROM ored o JOIN a2 ON a2.node = o.dst GROUP BY o.src
)
SELECT coalesce(h2.node, a2.node) AS node,
       CAST(coalesce(h2.h, 0) AS BIGINT) AS hub2,
       CAST(coalesce(a2.a, 0) AS BIGINT) AS auth2
FROM h2 FULL OUTER JOIN a2 ON h2.node = a2.node
ORDER BY hub2 DESC, auth2 DESC, node ASC
LIMIT 100
""",
)
def graph_hits_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the degree-oriented co-purchase DAG,
    two power iterations WITHOUT normalization — so every score is an
    exact integer path count (auth2(v) = #(2-step hub-mediated routes
    into v), hub2(u) = the mirror), and the cross-engine hash check
    needs no float lattice at all. The top-100 by (hub2, auth2, node) is
    the "which parts anchor the catalog" ranking; normalized HITS ranks
    identically within an iteration because normalization is a positive
    scalar per step.

    Each iteration is ONE broadcast join into the cached edge list
    (scores are per-node, nodes << edges, so the edge relation is never
    shuffled) followed by a map-side-combined sum on the receiving
    endpoint — the textbook Pregel superstep as DataFrames, with exact
    BIGINT message values. r12 changes
    (guide §1.2/§2.4): a1 (the oriented in-degree) reads the memoized
    |V|-row in-adjacency array lengths instead of scanning + aggregating
    the |E|-row edge list, and a2 — consumed TWICE in the final plan
    (h2's broadcast lineage AND the full-outer join side) — is pinned
    with .cache() so its superstep chain executes once. Two rejected
    alternatives, both measured SLOWER at sf0.1: folding a 1-row
    broadcast MAP of scores over the adjacency arrays (Spark's
    GetMapValue is a LINEAR scan over the 20k-entry map -> ~50 s/run),
    and a dense positional-ARRAY fold (O(1) lookups but the interpreted
    higher-order fold costs more than the whole join+agg superstep:
    1.07 s vs 0.99 s). At 100 TB: bucket edges by src AND a dst-keyed
    copy by dst to make both directions exchange-free; four bounded
    supersteps, no iteration-count blowup.
    """
    oriented, _deg, _edges = _oriented_copurchase(spark, sf_dir)
    in_adj = _in_adjacency(spark, sf_dir)  # dst -> [src...]
    # a1 = oriented in-degree: the in-adjacency array length (|V| rows)
    a1 = in_adj.select(
        F.col("dst").alias("node"), F.size("nbrs").cast("bigint").alias("a")
    )
    h1 = (
        oriented.join(F.broadcast(a1), oriented["dst"] == a1["node"])
        .groupBy("src")
        .agg(F.sum("a").alias("h"))
        .withColumnRenamed("src", "node")
    )
    a2 = (
        oriented.join(F.broadcast(h1), oriented["src"] == h1["node"])
        .groupBy("dst")
        .agg(F.sum("h").alias("a"))
        .withColumnRenamed("dst", "node")
        .cache()
    )
    h2 = (
        oriented.join(F.broadcast(a2), oriented["dst"] == a2["node"])
        .groupBy("src")
        .agg(F.sum("a").alias("h"))
        .withColumnRenamed("src", "node")
    )
    out = h2.join(a2, "node", "full_outer").select(
        "node",
        F.coalesce("h", F.lit(0)).alias("hub2"),
        F.coalesce("a", F.lit(0)).alias("auth2"),
    )
    return out.orderBy(F.desc("hub2"), F.desc("auth2"), F.asc("node")).limit(100)


# --------------------------------------------------------------------------
# Sampled closeness centrality (bounded multi-source BFS)
# --------------------------------------------------------------------------


def _closeness_oracle() -> str:
    rounds = []
    prev = "d0"
    for i in range(1, _BFS_ROUNDS + 1):
        rounds.append(
            f"""d{i} AS (
  SELECT seed, node, min(dist) AS dist FROM (
    SELECT seed, node, dist FROM {prev}
    UNION ALL
    SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
    FROM edges e JOIN {prev} d ON d.node = e.src
  ) GROUP BY seed, node
)"""
        )
        prev = f"d{i}"
    body = ",\n".join(rounds)
    return f"""
WITH e0 AS (
  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
d0 AS (
  SELECT DISTINCT src AS seed, src AS node, 0 AS dist
  FROM edges WHERE src < {_BFS_SEED_BELOW}
),
{body}
SELECT CAST(seed AS BIGINT)        AS seed,
       CAST(count(*) AS BIGINT)    AS n_reached,
       CAST(sum(dist) AS BIGINT)   AS sum_dist,
       CAST(sum(6 // dist) AS BIGINT) AS harmonic_x6
FROM {prev}
WHERE dist > 0
GROUP BY seed
"""


@register("graph_closeness_sample", oracle=_closeness_oracle())
def graph_closeness_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled closeness centrality (the Eppstein–Wang estimator shape):
    run the bounded-depth BFS from EVERY seed in the bounded sample
    simultaneously — state is (seed, node, dist), i.e. the
    ``graph_bfs_levels`` frontier kernel with a seed column carried
    through — then reduce each seed's distance vector to its closeness
    ingredients: |reached|, total hops, and HARMONIC closeness on an
    exact integer lattice (x6: per-hop contributions 6/1, 6/2, 6/3 are
    all integers at depth <= _BFS_ROUNDS, so the score sums exactly
    and the oracle's unrolled CTEs reproduce it bit-for-bit; harmonic
    handles disconnected pairs by simply omitting them, which is why
    production closeness sampling prefers it).

    Plan (r12, BIT-PARALLEL multi-source BFS): the bounded seed set maps
    to bit positions (seed rank -> bit), per-node state is ONE bigint
    bitmask of "which seeds reach this node within k hops", and each
    superstep is one equi-join + one ``bit_or`` aggregate over the
    session-cached doubled edge list — message volume is |E| rows of
    (dst, mask) per round, independent of the seed count, where the
    previous (seed, node, dist)-row form shuffled up to |seeds| x |E|
    message rows (the textbook multi-source-BFS compaction: OR is the
    min-dist lattice join when distances are read off the first round a
    bit appears). Cumulative masks m1 ⊆ m2 ⊆ m3 are kept per round;
    dist(node, seed) is the first round whose mask contains the seed's
    bit, decoded by one |seeds|-row broadcast spine joined on a bit
    test, and the final rollup is one |seeds|-row aggregate. At 100 TB
    closeness is ALWAYS estimated from a bounded seed sample (exact
    all-pairs is |V| BFS runs); the seed sample packs into ceil(k/64)
    mask words, so k seeds cost ~1 word of shuffle per edge per round
    over the same co-partitioned edge buckets — not k-fold the state.
    """
    edges, _n = _trade_edges(spark, sf_dir)
    seeds = (
        edges.filter(F.col("src") < _BFS_SEED_BELOW)
        .select(F.col("src").alias("seed"))
        .distinct()
        .withColumn(
            "bit", F.row_number().over(Window.orderBy("seed")) - F.lit(1)
        )
    )
    # one state DataFrame carries EVERY round's cumulative mask as a
    # column (mk0..mk3), so the lineage stays linear — round k's plan
    # contains rounds 0..k-1 exactly once. (A first cut kept each
    # round's mask as its own DataFrame and outer-joined them at decode
    # time; every join re-executed the earlier rounds' supersteps and
    # the "optimization" measured SLOWER than the (seed, node, dist)
    # form it replaced.)
    state = seeds.select(
        F.col("seed").alias("node"),
        F.expr("shiftleft(CAST(1 AS BIGINT), bit)").alias("mk0"),
    )
    mask_cols = ["mk0"]
    for k in range(1, _BFS_ROUNDS + 1):
        prev = mask_cols[-1]
        cur = f"mk{k}"
        # r13 (guide §3.1 + §5): pin the |V|-row state with a lazy
        # localCheckpoint, then BROADCAST it onto the cached edge list —
        # each superstep becomes a BroadcastHashJoin over the edge cache
        # (zero edge re-sort) plus a map-combined bit_or shuffle of ~|V|
        # partials, where the SMJ form re-sorted the 1.17M-row edge side
        # and exchanged+sorted the state side EVERY round. r12 measured
        # broadcast-without-checkpoint SLOWER (each round's broadcast
        # build re-executed the prior rounds' chain — the pagerank O(T²)
        # trap); the checkpoint is what makes the broadcast form win
        # (ABBA r13: cold 4.83 -> 2.92, warm 2.49 -> 1.39). Cluster
        # caveat: localCheckpoint blocks live on executors without
        # lineage — port with reliable .checkpoint() or a written
        # intermediate (same note as graph_pagerank).
        state = state.localCheckpoint(eager=False)
        msgs = edges.join(F.broadcast(state), edges["src"] == state["node"]).select(
            F.col("dst").alias("node"),
            *[F.lit(0).cast("bigint").alias(c) for c in mask_cols],
            F.col(prev).alias(cur),
        )
        carried = state.select(
            "node", *mask_cols, F.col(prev).alias(cur)
        )
        state = (
            carried.unionByName(msgs)
            .groupBy("node")
            .agg(*[F.bit_or(c).alias(c) for c in [*mask_cols, cur]])
        )
        mask_cols.append(cur)
    full = state
    hit = (
        # ~|seeds|-row spine broadcast onto the node masks: dist > 0 pairs
        # are bits present in m3 but not in m0 (the seed's own node)
        full.join(
            F.broadcast(seeds),
            F.expr("(shiftright(mk3, bit) & 1) = 1 AND (shiftright(mk0, bit) & 1) = 0"),
        )
        .select(
            "seed",
            F.when(F.expr("(shiftright(mk1, bit) & 1) = 1"), F.lit(1))
            .when(F.expr("(shiftright(mk2, bit) & 1) = 1"), F.lit(2))
            .otherwise(F.lit(3))
            .alias("dist"),
        )
    )
    return hit.groupBy(F.col("seed").cast("bigint").alias("seed")).agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
        F.sum(F.expr("6 DIV dist")).cast("bigint").alias("harmonic_x6"),
    )


# --------------------------------------------------------------------------
# Adamic-Adar edge strength (link-prediction weighting of common neighbors)
# --------------------------------------------------------------------------

_AA_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT a.p AS pa, b.p AS pb
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
),
deg AS (SELECT u, count(*) AS d FROM und GROUP BY u),
wt AS (SELECT u, CAST(floor(1000000.0 / ln(d)) AS BIGINT) AS w_ppm FROM deg),
common AS (
  SELECT e.pa, e.pb,
         CAST(count(*) AS BIGINT)  AS n_common,
         CAST(sum(wt.w_ppm) AS BIGINT) AS aa_ppm
  FROM edges e
  JOIN und x ON x.u = e.pa
  JOIN und y ON y.u = e.pb AND y.v = x.v
  JOIN wt ON wt.u = x.v
  GROUP BY e.pa, e.pb
)
SELECT pa, pb, n_common, aa_ppm,
       CAST(row_number() OVER (ORDER BY aa_ppm DESC, pa, pb) AS INT) AS rk
FROM common
QUALIFY rk <= {_NBR_TOP}
"""


@register("graph_adamic_adar", oracle=_AA_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar edge strength: for each adjacent part pair, the sum
    over common neighbors w of 1/ln(deg(w)) — the link-prediction
    classic that upgrades raw common-neighbor counts (neighbor_jaccard's
    numerator) by discounting promiscuous hubs: a shared rare neighbor
    is strong evidence of affinity, a shared hub is none.

    Exactness: the per-neighbor weight is floored ONCE onto the integer
    ppm lattice (floor(1e6/ln(deg_w))), so the pair score is an exact
    BIGINT SUM — deliberately avoiding a float Σ1/ln(d) whose value
    would depend on summation order (docs/dialect_notes.md); the
    lattice, not the float, IS the operator's semantics on both engines.

    Plan: the same oriented-DAG triangle enumeration as
    graph_neighbor_jaccard/graph_triangles (each triangle row credits
    its three edges, weighted by the THIRD node's degree), one
    broadcast of the |V|-row weight table, one keyed aggregate, and a
    distributed top-k (orderBy+limit -> TakeOrderedAndProject). Cost is
    the triangle count, not the wedge count — the hub discount comes
    free from the degree table the orientation already built.
    """
    _oriented, deg, _edges = _oriented_copurchase(spark, sf_dir)
    # session-memoized (u, v, w) triangle rows — the same relation
    # graph_neighbor_jaccard enumerates, built and cached ONCE per session
    tris = _triangle_rows(spark, sf_dir)
    # credit each triangle to its three edges, weighted by the third node
    contrib = _triangle_edge_legs(tris, with_third=True)
    wt = deg.select(
        F.col("node").alias("third"),
        F.floor(1000000.0 / F.log(F.col("d"))).cast("bigint").alias("w_ppm"),
    )
    scored = (
        contrib.join(F.broadcast(wt), "third")
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("w_ppm").cast("bigint").alias("aa_ppm"),
        )
    )
    return _ranked_topk(
        scored, F.col("aa_ppm").desc(), F.col("pa").asc(), F.col("pb").asc()
    )


# --------------------------------------------------------------------------
# Markov next-event prediction eval (temporal backtest of the transition
# matrix)
# --------------------------------------------------------------------------

@register(
    "eval_markov_next",
    oracle="""
WITH mid AS (
  SELECT min(epoch_us(ts)) + max(epoch_us(ts)) AS mm FROM events
), seq AS (
  SELECT e.user_id, e.event_type,
         lag(e.event_type) OVER (PARTITION BY e.user_id
                                 ORDER BY e.ts, e.event_id) AS prev_type,
         (2 * epoch_us(e.ts) >= mid.mm) AS is_test
  FROM events e CROSS JOIN mid
), pairs AS (
  SELECT prev_type, event_type AS next_type, is_test
  FROM seq WHERE prev_type IS NOT NULL
), model AS (
  SELECT prev_type, next_type,
         row_number() OVER (PARTITION BY prev_type
                            ORDER BY count(*) DESC, next_type ASC) AS rk
  FROM pairs WHERE NOT is_test
  GROUP BY prev_type, next_type
), pred AS (SELECT prev_type, next_type AS predicted FROM model WHERE rk = 1)
SELECT p.prev_type,
       any_value(pred.predicted)                           AS predicted,
       CAST(count(*) AS BIGINT)                            AS n_test,
       CAST(count(*) FILTER (WHERE p.next_type = pred.predicted)
            AS BIGINT)                                     AS n_correct,
       CAST(count(*) FILTER (WHERE p.next_type = pred.predicted) * 1000000
            // count(*) AS BIGINT)                         AS acc_ppm
FROM pairs p JOIN pred USING (prev_type)
WHERE p.is_test
GROUP BY p.prev_type
""",
)
def eval_markov_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal backtest of the Markov transition model
    (``events_transitions``): train the argmax next-event predictor on
    the first half of the window, grade top-1 accuracy on the second —
    the eval that turns the transition matrix into a measured model
    rather than a descriptive table (same posture as
    ``ts_forecast_snaive_eval`` for the count series). The split is the
    exact integer-µs midpoint; the prediction is the train-period modal
    next type with a deterministic (count desc, type asc) tie-break;
    accuracy is an exact ppm ratio per antecedent type.

    Scale shape: one per-user lag window (keyed by user — thousands of
    balanced partitions), then everything collapses to the bounded
    (type x type) transition domain: the model is an argmax window over
    ~25 rows, the grading join broadcasts |types| predictions back onto
    test-pair counts. The midpoint is a 1-row scalar crossJoin
    (declared broadcast).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    mid = ev.agg((F.min(us) + F.max(us)).alias("mm"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "user_id",
            "event_type",
            F.lag("event_type").over(w).alias("prev_type"),
            (us * 2 >= F.col("mm")).alias("is_test"),
        )
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("next_type"), "is_test")
    )
    w_rk = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    pred = (
        seq.filter(~F.col("is_test"))
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    hit = F.col("next_type") == F.col("predicted")
    return (
        seq.filter(F.col("is_test"))
        .join(F.broadcast(pred), "prev_type")
        .groupBy("prev_type")
        .agg(
            F.first("predicted").alias("predicted"),
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(hit, 1).otherwise(0)).alias("nc"),
        )
        .select(
            "prev_type",
            "predicted",
            F.col("n_test").cast("long").alias("n_test"),
            F.col("nc").cast("long").alias("n_correct"),
            F.expr("CAST(nc * 1000000 div n_test AS BIGINT)").alias(
                "acc_ppm"
            ),
        )
    )
