"""Streaming sinks: ``foreachBatch`` writes that are idempotent per batch id.

Structured Streaming's file sink is append-only; a sink that must upsert,
merge or rewrite transactionally runs its write in ``foreachBatch``, whose
contract is "(batch_df, batch_id), called once per micro-batch, replays
possible, same batch_id on replay". Every sink here therefore writes under
a name derived from the batch id alone, so a replayed batch (failure
between write and checkpoint commit) overwrites its own earlier attempt
instead of duplicating rows. With the checkpoint, each sink is
exactly-once end to end. The writes take one of two shapes:

* **Per-batch directory** (``exactly_once_parquet_sink``): batch N lands
  in its own ``batch_id=N`` directory with overwrite mode.
* **Versioned fold** (the state sinks): batch N is reduced to a mergeable
  ``delta``, folded with the newest state version strictly older than N,
  and written as ``v{N:05d}``; for batch N with no prior state the delta
  is the state. Because the prior version is chosen by batch id, not by
  what is newest on disk, a replayed batch merges onto the state it saw
  the first time and rewrites its own version with the same rows. The
  read side (``read_state``) takes the newest version. Each state sink
  contributes only its algebra: a ``delta`` of one batch, and a ``fold``
  that re-reduces the union of the prior state and that delta.

At cluster scale the same hook is where MERGE INTO (Delta/Iceberg) or a
JDBC transactional upsert goes; ``txn_table_merge_sink`` is that shape
against the engine's own transactional table.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


def _tmp(prefix: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{uuid.uuid4().hex[:8]}")


def _start(stream: DataFrame, body, tag: str):
    """Run ``body(batch_df, batch_id)`` on each micro-batch of ``stream``
    until the input available now is consumed, checkpointing to a fresh
    temp directory. Returns the query."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", _tmp(f"ckpt_{tag}"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _versioned_state_sink(stream: DataFrame, tag: str, delta, fold, target: str | None):
    """The versioned fold: ``v{N}`` = ``delta(batch)`` without prior state,
    else ``fold(prior.unionByName(delta(batch)))``. Returns (query, target)."""
    target = target or _tmp(f"{tag}_state")
    os.makedirs(target, exist_ok=True)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        d = delta(batch_df)
        prior = _latest_state(batch_df.sparkSession, target, batch_id)
        merged = d if prior is None else fold(prior.unionByName(d))
        merged.write.mode("overwrite").parquet(os.path.join(target, f"v{batch_id:05d}"))

    return _start(stream, merge_batch, tag), target


def exactly_once_parquet_sink(df: DataFrame, target: str | None = None):
    """Start a streaming write of ``df`` where each micro-batch overwrites
    its own ``batch_id=N`` partition directory. Returns (query, target)."""
    target = target or _tmp("eo_sink")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(target, f"batch_id={batch_id}")
        )

    return _start(df, write_batch, "eo"), target


def read_sink(spark: SparkSession, target: str) -> DataFrame:
    """Read everything the exactly-once sink has committed."""
    return spark.read.option("basePath", target).parquet(
        os.path.join(target, "batch_id=*")
    )


def incremental_state_merge_sink(df: DataFrame, key_cols: list[str], target: str | None = None):
    """Streaming materialized-view maintenance: each micro-batch is
    partial-aggregated and merged into the aggregate state — the
    streaming twin of ``operators.incremental.incremental_agg_merge``.

    The state schema is the mergeable form (n_orders / revenue /
    first_order / last_order per key): every column merges with
    sum/sum/min/max, so folding batch partials into state is the same
    union + re-aggregate the batch operator uses. At cluster scale this
    foreachBatch body is the MERGE INTO statement of a Delta/Iceberg
    table partitioned by month, touching only the partitions present in
    the delta.
    """
    import pyspark.sql.functions as F

    def delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )

    def fold(state: DataFrame) -> DataFrame:
        return state.groupBy(*key_cols).agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
            F.min("first_order").alias("first_order"),
            F.max("last_order").alias("last_order"),
        )

    return _versioned_state_sink(df, "ivm", delta, fold, target)


def incremental_join_view_sink(
    delta_stream: DataFrame,
    static_side: DataFrame,
    target: str | None = None,
):
    """Streaming materialized-JOIN-view maintenance — the streaming twin
    of ``operators.incremental.incremental_join_delta``.

    With the orders side static and lineitem streaming, the delta
    algebra collapses to ``d(View) = orders JOIN dB``: each micro-batch
    of lineitem rows joins the static orders table (a stream-static
    join: only the delta shuffles; at cluster scale the static side is
    bucketed on the join key so the probe co-locates), partial-aggregates
    to the view's SUPPORTING grain ``(o_orderpriority, o_orderkey)``,
    and merges into the state by sum.

    The supporting grain exists because ``count(DISTINCT o_orderkey)``
    is NOT mergeable from per-priority partials; keeping one state row
    per (priority, orderkey) makes every state column a sum, and the
    read-time view (``join_view_result``) derives the distinct count as
    ``count(*)`` over state keys — the standard IVM supporting-view
    construction for distinct aggregates.
    """
    import pyspark.sql.functions as F

    keys = ["o_orderpriority", "o_orderkey"]

    def delta(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.join(
                static_side, batch_df["l_orderkey"] == static_side["o_orderkey"]
            )
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("cents").alias("cents"),
            )
        )

    def fold(state: DataFrame) -> DataFrame:
        return state.groupBy(*keys).agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("cents").alias("cents"),
        )

    return _versioned_state_sink(delta_stream, "ivm_join", delta, fold, target)


def cdc_merge_sink(changelog_stream: DataFrame, target: str | None = None):
    """Streaming CDC state maintenance with DELETE tombstones — the
    streaming twin of ``operators.curation.merge_cdc_with_deletes``.

    Delta and fold are one latest-wins compaction per key in the
    (ts_us, event_id) total order, so arrival order across micro-batches
    cannot change the outcome. The state row carries the tombstone flag;
    the DELETE is applied at READ time (``cdc_merge_result``), exactly
    how table formats defer deletes to scan-time via delete vectors.

    Expects changelog columns: user_id, value, is_delete, ts_us,
    event_id.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "value", "is_delete", "ts_us", "event_id")
        )

    return _versioned_state_sink(changelog_stream, "cdc", latest, latest, target)


def snapshot_accumulate_sink(snapshot_stream: DataFrame, target: str | None = None):
    """Accumulate a full-dump snapshot arriving in slices — the streaming
    twin of ``operators.incremental.cdc_snapshot_diff``'s B side.

    A warehouse that only takes periodic full dumps receives version B
    as a multi-file drop; each micro-batch is one slice. Delta and fold
    are one latest-wins compaction per key on ``_ord``, so a re-dumped
    key resolves to its newest revision. The A-vs-B classify + rollup
    runs READ-side over the final state (``snapshot_diff_result``),
    because the diff needs B complete.

    Expects columns: key, cents_b, _ord. At 100 TB the state table is a
    key-bucketed transactional table and each merge rewrites only the
    buckets the slice touches — the txn_table_merge_sink shape; the
    versioned-parquet state here keeps the local twin self-contained.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # cents_b as a deterministic secondary sort key (ADVICE r7): if a
    # prior-state row and a slice row ever share an _ord for the same
    # key with different payloads, _ord-only row_number would keep a
    # nondeterministic winner; the payload tie-break pins it.
    w = Window.partitionBy("key").orderBy(
        F.col("_ord").desc(), F.col("cents_b").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("key", "cents_b", "_ord")
        )

    return _versioned_state_sink(snapshot_stream, "snap", latest, latest, target)


def cdc_merge_result(base: DataFrame, state: DataFrame, key_shift: int) -> DataFrame:
    """Scan-time application of the CDC state onto the base snapshot —
    the same merge-audit projection as the batch operator."""
    import pyspark.sql.functions as F

    latest = state.select(
        (F.col("user_id") + key_shift).alias("key"),
        F.col("value").alias("new_bal"),
        "is_delete",
    )
    merged = base.join(latest, base["c_custkey"] == latest["key"], "full_outer")
    return merged.filter(
        ~(F.col("c_custkey").isNull() & F.coalesce("is_delete", F.lit(False)))
    ).select(
        F.coalesce("c_custkey", "key").alias("key"),
        F.coalesce("c_name", F.lit("cdc-insert")).alias("name"),
        F.round(
            F.when(F.col("is_delete"), F.col("c_acctbal")).otherwise(
                F.coalesce("new_bal", "c_acctbal")
            ),
            2,
        ).alias("acctbal"),
        F.when(F.col("is_delete"), "deleted")
        .when(F.col("c_custkey").isNull(), "inserted")
        .when(F.col("key").isNull(), "unchanged")
        .otherwise("updated")
        .alias("merge_action"),
    )


def join_view_result(state: DataFrame) -> DataFrame:
    """Read-time projection of the join-view state to the registered
    query's output shape: distinct orders = count of state keys."""
    import pyspark.sql.functions as F

    return state.groupBy("o_orderpriority").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("cents").alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def _latest_state(spark: SparkSession, target: str, before_batch: float):
    """Newest committed state version strictly older than ``before_batch``
    (a replayed batch must merge onto the state it saw the first time)."""
    versions = sorted(
        int(d[1:]) for d in os.listdir(target)
        if d.startswith("v") and d[1:].isdigit() and int(d[1:]) < before_batch
    )
    if not versions:
        return None
    return spark.read.parquet(os.path.join(target, f"v{versions[-1]:05d}"))


def read_state(spark: SparkSession, target: str) -> DataFrame:
    """Read the latest committed state version."""
    state = _latest_state(spark, target, float("inf"))
    if state is None:
        raise FileNotFoundError(f"no committed state version under {target}")
    return state


def txn_table_merge_sink(changelog_stream: DataFrame, table, app_id: str = "stream"):
    """Stream a CDC changelog into a transactional table
    (``sources.txn_table.TxnTable``) — the production ACID sink for the
    CDC/MERGE family, and the streaming twin of ``txn_cdc_merge_table``.

    Each micro-batch MERGEs with ``version=batch_id``: the table's
    (app_id, version) transaction stamp makes a re-delivered batch a
    logged no-op, so this sink needs no versioned state directory.
    Batch ids are monotone, so versions are too; within a batch the
    merge compacts latest-wins on (ts_us, event_id), and across batches
    the stream's time order makes last-batch-wins equal the one-shot
    merge. Returns the query.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            table.merge_cdc(batch_df, app_id=app_id, version=batch_id)

    return _start(changelog_stream, merge_batch, "txn")


def postings_index_sink(df: DataFrame, target: str | None = None):
    """Streaming inverted-index maintenance: each micro-batch of NEW
    documents is reduced to per-term partials — (df_delta, the batch's
    min-20 doc_ids) plus a 1-row doc-count partial — and merged into the
    index state. The streaming twin of ``text_postings``.

    The fold is a pure monoid, which is what makes the index
    incrementally maintainable at all: document frequency is additive
    over disjoint doc sets, and the rank-capped posting list is a MIN-20
    (min-20 of a union = min-20 of the two sides' min-20s), so folding
    any batch cut of the corpus reaches the same state as one batch
    build. The relative df band is deliberately NOT applied to state —
    it depends on the final corpus size, so it is a read-side projection
    (``postings_result``) over the bounded per-term state, exactly like
    the other monitors' read-side split.
    """
    import pyspark.sql.functions as F

    # The cap and df band are THE batch constants (llm_text.text_postings):
    # the stream-equals-batch monoid invariant only holds if both sides cut
    # posting lists at the identical rank, so never restate them here.
    from bangdatapipeline_spark.operators.llm_text import (
        _BIGRAM_GEN_EXPR, _POSTINGS_CAP,
    )

    def delta(batch_df: DataFrame) -> DataFrame:
        toks = batch_df.selectExpr("doc_id", "split(text, ' ') AS toks")
        # the batch operator's generator expression, imported — the
        # stream-equals-batch invariant requires byte-identical bigrams
        bg = toks.selectExpr("doc_id", _BIGRAM_GEN_EXPR)
        per_term = bg.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, _POSTINGS_CAP).alias("ids"),
        )
        n = batch_df.select(F.countDistinct("doc_id").alias("df")).select(
            F.lit("__n_docs__").alias("term"),
            "df",
            F.array().cast("array<bigint>").alias("ids"),
        )
        return per_term.unionByName(n)

    def fold(state: DataFrame) -> DataFrame:
        return state.groupBy("term").agg(
            F.sum("df").alias("df"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("ids"))), 1, _POSTINGS_CAP
            ).alias("ids"),
        )

    return _versioned_state_sink(df, "postings", delta, fold, target)


def postings_result(spark: SparkSession, target: str) -> DataFrame:
    """Read-side projection over the postings state: apply the
    corpus-relative df band (now that the final doc count is known) and
    render posting lists — reproduces ``text_postings`` exactly."""
    import pyspark.sql.functions as F

    from bangdatapipeline_spark.operators.llm_text import (
        _POSTINGS_HI, _POSTINGS_LO,
    )

    state = read_state(spark, target)
    n = state.filter(F.col("term") == "__n_docs__").select(
        F.col("df").alias("n")
    )
    return (
        state.filter(F.col("term") != "__n_docs__")
        .crossJoin(F.broadcast(n))
        .filter(
            F.col("df").between(
                F.expr(_POSTINGS_LO.format(n="n").replace("//", "div")),
                F.expr(_POSTINGS_HI.format(n="n").replace("//", "div")),
            )
        )
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.array_join(F.col("ids").cast("array<string>"), ",").alias(
                "postings"
            ),
        )
    )
