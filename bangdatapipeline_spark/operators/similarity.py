"""Similarity search + embedding analytics (SURVEY.md §2.10).

The reference (a pandas ETL client) has no vector operators; these are the
mandated LLM-pipeline extensions: exact top-k cosine search, threshold
self-join (embedding near-dup detection), per-label centroids carried
through joins (multimodal columns), cluster purity, and an LSH-bucketed
approximate-NN scale path.

Numeric portability: DuckDB's ``list_inner_product`` accumulates in
float32, so both sides instead compute the dot product as an explicit
left-to-right fold over float→double casts — bit-identical across engines
(verified), making the hash-checked oracles exact. Embeddings are
unit-norm (FIXTURES.md), so dot == cosine.

Scale posture (100 TB):
  * exact kNN: the query side is small and broadcast; the corpus streams.
    The only shuffle is the per-query top-k (keyed on q_id). The
    throughput path is the block-GEMM kernel (``knn_gemm_topk``): one
    BLAS matmul per Arrow batch, candidates-only shuffle. Beyond brute
    force, ``knn_ann_lsh`` / ``knn_ivf_topk`` cut candidate counts.
  * threshold pairs: all-pairs is O(n²) by definition — the GEMM kernel
    (``knn_threshold_gemm``) does the n² at BLAS speed with zero shuffle;
    the LSH bucket join cuts the candidate count when τ is high.
  * centroids/purity: per-dimension aggregation keyed on (label, dim) —
    cardinality |labels|×dim, tiny; the centroid table broadcasts into
    the rejoin.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from bangdatapipeline_spark.caches import memo
from bangdatapipeline_spark.registry import REGISTRY, register
from bangdatapipeline_spark.tables import load_table, spread

N_QUERIES = 100  # query set = vec_id < 100 (matches BASELINE.md emb_knn_top5)
TOP_K = 5
PAIR_TAU = 0.3  # ~top 1% of pair sims at sf0.01 (max pair sim ≈ 0.51)
# vec_id bound for the all-pairs exact threshold baseline (the similarity
# twin of dedup_near.EXACT_BOUND): keeps the quadratic ground-truth form
# constant-cost at every scale factor; production path = knn_threshold_gemm.
PAIR_EXACT_BOUND = 400


def dot_double(a, b) -> Column:
    """Left-to-right fold dot product in double precision.

    Matches DuckDB's ``list_reduce(list_transform(...), (x,y)->x+y)`` fold
    bit-for-bit: each float is cast to double before the multiply, and the
    sum accumulates sequentially.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


_DOT_VEC_UDF = None


def dot_double_vec(a, b) -> Column:
    """Arrow-batched twin of :func:`dot_double` — bit-identical, ~20× faster.

    The Catalyst higher-order fold is interpreted per element (no codegen
    for lambda bodies), which made the ``dot_double`` sites the hottest
    kernels in the sf0.1 bench (the 200k-pair kNN candidate stage alone was
    ~1.5 s; this kernel does it in <0.1 s). The pandas_udf computes every
    dot product in one vectorized pass per Arrow batch while preserving the
    EXACT left-to-right fold order: ``acc += X[:, d] * Y[:, d]`` runs
    d = 0..dim-1 sequentially, so each row's sum adds terms in the same
    sequence as ``dot_double`` / DuckDB's ``list_reduce`` — IEEE-identical
    doubles, hence unchanged round-6 oracle hashes (np.dot / BLAS
    reassociation is deliberately avoided). NULL in → NULL out, matching
    ``F.aggregate`` on a null array — and a computed NaN (an embedding
    row CONTAINING NaN) stays NaN, again matching the fold: the result
    mask is built explicitly (r10 review: ``pd.array(..., "Float64")``
    coerced every NaN to NA, so the two "bit-identical twins" ranked a
    corrupt row at opposite ends of a desc window — NaN sorts first,
    NULL last).

    Construction is deferred (module imports precede any SparkSession) and
    cached — one UDF object per process, like the udfs.py pattern.
    """
    global _DOT_VEC_UDF
    if _DOT_VEC_UDF is None:

        @F.pandas_udf("double")
        def _dot(xa: pd.Series, xb: pd.Series) -> pd.Series:
            n = len(xa)
            out = np.full(n, np.nan)
            mask = (xa.notna() & xb.notna()).to_numpy()
            if mask.any():
                x = np.vstack(xa[mask].to_numpy()).astype(np.float64)
                y = np.vstack(xb[mask].to_numpy()).astype(np.float64)
                acc = np.zeros(x.shape[0])
                for d in range(x.shape[1]):  # sequential over dims == fold order
                    acc += x[:, d] * y[:, d]
                out[mask] = acc
            # explicit mask: ONLY null inputs are NA; computed NaN survives
            return pd.Series(pd.arrays.FloatingArray(out, ~mask))

        _DOT_VEC_UDF = _dot
    return _DOT_VEC_UDF(a, b)


# DuckDB spelling of the same fold (bit-identical result).
def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


# Shared oracle for the exact top-k kNN (fold and GEMM kernels both
# produce these values after round-6).
_KNN_TOPK_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
), sims AS (
    SELECT q.q_id, e.vec_id AS n_id,
           {_duck_dot('q.q_emb', 'e.embedding')} AS sim
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id
)
SELECT q_id, n_id, round(sim, 6) AS sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM sims
QUALIFY rn <= {TOP_K}
"""


@register("knn_cosine_topk", oracle=_KNN_TOPK_ORACLE)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: each of the first 100 vectors queries
    the full corpus; unit-norm vectors make dot product == cosine.

    Plan shape: broadcast the 100-row query side into a nested-loop join
    against the streamed corpus (no corpus shuffle), then one shuffle on
    q_id for the per-query top-k window.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sims = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            dot_double_vec(F.col("q_emb"), F.col("embedding")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", F.round("sim", 6).alias("sim"), "rn")
    )


@register(
    "knn_threshold_pairs",
    oracle=f"""
WITH e AS (SELECT * FROM embeddings WHERE vec_id < {PAIR_EXACT_BOUND}),
sims AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label_a, b.label AS label_b,
           {_duck_dot('a.embedding', 'b.embedding')} AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, label_a, label_b, round(sim, 6) AS sim
FROM sims WHERE sim >= {PAIR_TAU}
""",
)
def knn_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED exact threshold self-join: all vector pairs among
    vec_id < PAIR_EXACT_BOUND (400) with cosine >= τ — the exact ground-truth
    baseline the approximate detectors are graded against, deliberately
    capped the way ``dedup_near_jaccard`` caps its shingle baseline
    (EXACT_BOUND): all-pairs is quadratic, so an UNbounded form degrades
    super-linearly with corpus size (181 s at the sf1 smoke before the
    cap). For production-scale threshold pairs over the FULL corpus use
    ``knn_threshold_gemm`` — the blocked-GEMM kernel whose only shuffled
    rows are candidates — or the LSH bucket join (``knn_ann_lsh``) as the
    candidate generator at 100 TB.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < PAIR_EXACT_BOUND
    )
    a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", dot_double_vec(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("sim") >= PAIR_TAU)
        .select("id_a", "id_b", "label_a", "label_b", F.round("sim", 6).alias("sim"))
    )


@register(
    "multimodal_cols",
    oracle="""
WITH x AS (
    SELECT d.lang, e.label,
           unnest(generate_series(1, len(e.embedding))) - 1 AS dim,
           CAST(floor(unnest(list_transform(e.embedding, v -> CAST(v AS DOUBLE)))
                      * 100000000 + 0.5) AS BIGINT) AS vq
    FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
)
SELECT lang, label, CAST(dim AS INT) AS dim,
       CAST(count(*) AS BIGINT) AS n_vecs,
       floor(sum(vq) / (count(*) * 100.0) + 0.5) / 1000000.0 AS centroid
FROM x GROUP BY lang, label, dim
""",
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal columns: embeddings carried through a join with the text
    table, then aggregated per (lang, label) into per-dimension centroids
    (long form — one row per dimension, the oracle-friendly shape).

    The join key (vec_id = doc_id) is a plain equi-join; the centroid agg
    keys on (lang, label, dim) — bounded cardinality, map-side partials do
    almost all the work. Centroids accumulate on the exact-integer 1e-8
    lattice (each value quantized BEFORE the sum) so the mean is
    summation-order independent — `round(avg(double))` flipped 6-dp
    boundaries at sf0.1 group sizes (dialect_notes.md, log-lattice
    family); the emitted centroid divides the integer sum once and
    floor-rounds to 6 dp, bit-identical on both engines.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load_table(spark, sf_dir, "embeddings")
    j = e.join(d, e.vec_id == d.doc_id)
    x = j.select(
        "lang", "label", F.posexplode("embedding").alias("dim", "val")
    )
    vq = F.floor(F.col("val").cast("double") * 100000000 + 0.5).cast("bigint")
    return (
        x.withColumn("vq", vq)
        .groupBy("lang", "label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.floor(F.sum("vq") / (F.count("*") * 100.0) + 0.5) / 1000000.0
            ).alias("centroid"),
        )
    )


@register(
    "label_purity",
    oracle="""
WITH x AS (
    SELECT vec_id, label,
           unnest(generate_series(1, len(embedding))) AS dim,
           unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val
    FROM embeddings
), cent AS (
    SELECT label, dim, avg(val) AS c FROM x GROUP BY label, dim
), cn AS (
    SELECT label, sqrt(sum(c * c)) AS cnorm FROM cent GROUP BY label
), dots AS (
    SELECT x.vec_id, x.label, sum(x.val * cent.c) AS dot
    FROM x JOIN cent ON x.label = cent.label AND x.dim = cent.dim
    GROUP BY x.vec_id, x.label
), cos AS (
    SELECT d.label, d.vec_id, d.dot / cn.cnorm AS cos_c
    FROM dots d JOIN cn ON d.label = cn.label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(cos_c), 6) AS avg_cos,
       round(stddev_samp(cos_c), 6) AS sd_cos,
       round(min(cos_c), 6) AS min_cos,
       round(max(cos_c), 6) AS max_cos
FROM cos GROUP BY label
""",
)
def label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity: cosine of every vector to its label centroid,
    summarized per label (n, mean, stddev, min, max).

    The centroid table is |labels|×dim rows — broadcast into the rejoin;
    the only data-sized shuffle keys on (vec_id, label) for the
    per-vector dot product.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = x.groupBy("label", "dim").agg(F.avg("val").alias("c"))
    cn = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cnorm"))
    dots = (
        x.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("val") * F.col("c")).alias("dot"))
    )
    cos = dots.join(F.broadcast(cn), "label").select(
        "label", "vec_id", (F.col("dot") / F.col("cnorm")).alias("cos_c")
    )
    return cos.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("cos_c"), 6).alias("avg_cos"),
        F.round(F.stddev_samp("cos_c"), 6).alias("sd_cos"),
        F.round(F.min("cos_c"), 6).alias("min_cos"),
        F.round(F.max("cos_c"), 6).alias("max_cos"),
    )


# ---------------------------------------------------------------------------
# Approximate NN — the 100-TB scale path. Random-hyperplane LSH with
# deterministic hyperplanes (LCG-derived, reproducible across runs/engines).
# Rows-only for the driver; tests/test_similarity.py checks candidate
# correctness (reported sims are exact) and measures recall vs exact kNN.
# ---------------------------------------------------------------------------

LSH_TABLES = 8  # L hash tables ...
LSH_BITS = 6  # ... of b sign-bits each: P(bucket match) = (1+cos)/2 ^ b per table
EMB_DIM = 64
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2147483647


def _hyperplane(table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random hyperplane in [-0.5, 0.5]^dim."""
    out = []
    for d in range(EMB_DIM):
        x = (_LCG_A * ((table * LSH_BITS + bit) * EMB_DIM + d) + _LCG_C) % _LCG_M
        out.append(x / _LCG_M - 0.5)
    return out


_LSH_BUCKETS_UDF = None


def _lsh_buckets_udf():
    """Arrow-batched kernel: all LSH_TABLES bucket ids for one embedding.
    Deferred-and-cached like ``_DOT_VEC_UDF`` — one UDF object (and one
    64x48 weight matrix) per process, not per invocation (r10 review:
    every knn_ann_lsh call, including the nested one in
    eval_rank_metrics, rebuilt and re-registered the closure).

    The naive spelling (LSH_TABLES*LSH_BITS separate ``dot_double`` calls,
    one Catalyst higher-order fold per plane) is interpreted per element —
    it was the slowest kernel in the repo (~4 s of the sf0.1 bench on the
    corpus signature pass alone). This pandas_udf computes every plane
    projection in one vectorized pass per Arrow batch while preserving the
    EXACT left-to-right fold semantics the DuckDB oracle replicates: the
    accumulator update ``acc += X[:, d] * W[d]`` runs d = 0..EMB_DIM-1 in
    order, so each (row, plane) sum adds terms in the same sequence as
    ``dot_double`` / ``list_reduce`` — bit-identical doubles, hence
    identical sign bits and identical buckets (no BLAS reassociation:
    np.dot is deliberately avoided).
    """
    global _LSH_BUCKETS_UDF
    if _LSH_BUCKETS_UDF is not None:
        return _LSH_BUCKETS_UDF
    # W[d, p] = weight d of plane p, planes ordered (table, bit).
    w = np.array(
        [
            _hyperplane(t, bit)
            for t in range(LSH_TABLES)
            for bit in range(LSH_BITS)
        ],
        dtype=np.float64,
    ).T  # EMB_DIM x (LSH_TABLES*LSH_BITS)
    pows = np.array([1 << bit for bit in range(LSH_BITS)], dtype=np.int64)

    @F.pandas_udf("array<int>")
    def buckets(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype=object)
        x = np.vstack(emb.to_numpy()).astype(np.float64)  # n x EMB_DIM
        acc = np.zeros((x.shape[0], w.shape[1]))
        for d in range(EMB_DIM):  # sequential over dims == the fold order
            acc += x[:, d, None] * w[d][None, :]
        bits = (acc > 0).reshape(-1, LSH_TABLES, LSH_BITS)
        bkts = (bits * pows).sum(axis=2).astype(np.int32)  # n x LSH_TABLES
        return pd.Series(list(bkts))

    _LSH_BUCKETS_UDF = buckets
    return _LSH_BUCKETS_UDF


def _lsh_plane_dot_duck(plane: list[float]) -> str:
    lits = ", ".join(repr(w) for w in plane)
    return (
        "list_reduce(list_transform(generate_series(1, len(embedding)), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i]), (x, y) -> x + y)"
    )


def _lsh_oracle() -> str:
    """DuckDB replica of the full LSH pipeline. The hyperplanes are
    deterministic arithmetic constants (not JVM-seeded randomness), so the
    'approximate' detector is exactly reproducible: the oracle recomputes
    every signature with the same constants and the same fold dot product,
    bit-for-bit. ~74 KB of generated SQL (48 constant hyperplanes x 64
    dims), ~4 s at sf0.01.
    """
    def bkt_expr(t: int) -> str:
        return " + ".join(
            f"(CASE WHEN {_lsh_plane_dot_duck(_hyperplane(t, bit))} > 0 "
            f"THEN {1 << bit} ELSE 0 END)"
            for bit in range(LSH_BITS)
        )

    sigs = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, {bkt_expr(t)} AS bkt FROM embeddings"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH sigs AS ({sigs}),
q AS (SELECT vec_id AS q_id, t, bkt FROM sigs WHERE vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT q.q_id, s.vec_id AS n_id
  FROM q JOIN sigs s USING (t, bkt) WHERE s.vec_id <> q.q_id
),
sims AS (
  SELECT c.q_id, c.n_id, {_duck_dot('a.embedding', 'b.embedding')} AS sim
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.q_id
  JOIN embeddings b ON b.vec_id = c.n_id
)
SELECT q_id, n_id, round(sim, 6) AS sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM sims QUALIFY rn <= {TOP_K}
"""


@register("knn_ann_lsh", oracle=_lsh_oracle())
def knn_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k cosine via random-hyperplane LSH: vectors hash into
    L×2^b buckets; candidates are corpus vectors sharing any bucket with the
    query; candidates are exact-reranked and the top-k kept.

    This is the scale path for ``knn_cosine_topk``: the crossJoin is
    replaced by L equi-joins on (table, bucket) — shuffle-bounded by bucket
    occupancy instead of |Q|×|corpus|. Hyperplanes are deterministic
    (LCG-seeded) so results are stable run-to-run — deterministic enough
    that the whole approximate pipeline HASH-CHECKS against a DuckDB
    replica of the signature computation (see ``_lsh_oracle``).
    """
    e = load_table(spark, sf_dir, "embeddings")
    # signature per table, exploded to (vec_id, table, bucket); the bucket
    # array comes from ONE vectorized Arrow kernel per batch (see
    # _lsh_buckets_udf) instead of 48 interpreted fold expressions per row.
    # r12: the bucket kernel fused into the single-task embeddings scan
    # (guide §2.5) and sigs feeds BOTH probe sides (query filter +
    # neighbor join) — spread the projection so the kernel parallelizes,
    # drop the embedding column (both consumers rejoin it by id), and
    # pin with .cache() so the signature pass runs once per run (the
    # process-memoized UDF object keeps the canonicalized plan identical
    # across calls, so the pin also dedupes across bench runs and inside
    # eval_rank_metrics' nested call).
    sigs = (
        spread(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            F.posexplode(_lsh_buckets_udf()(F.col("embedding"))).alias("t", "bkt"),
        )
        .cache()
    )

    q = sigs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "t", "bkt"
    )
    # a pair may collide in several tables: dedup on the KEY PAIR ALONE
    # (select + distinct), then rejoin the embeddings — the registry rule
    # forbids dropDuplicates in hash-checked paths (nondeterministic
    # keeper if a non-key column ever rides along; r10 review)
    cand = (
        q.join(
            sigs.select(F.col("vec_id").alias("n_id"), "t", "bkt"), ["t", "bkt"]
        )
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    # r13 (VERDICT r12 task 5): exact rerank via the shared fold kernel —
    # one n_id join instead of two embedding attaches, no per-pair
    # ArrowEvalPython fold; block-local top-k bounds the window input.
    sims = _fold_rerank_candidates(spark, e, cand, sf_dir, block_topk=TOP_K)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", F.round("sim", 6).alias("sim"), "rn")
    )


IVF_NPROBE = 3  # cells probed per query (of the 10 label-centroid cells)


def _cell_scores(x: DataFrame, cent: DataFrame, cn: DataFrame) -> DataFrame:
    """Cosine of every vector to every cell centroid (long-form join).

    Scores are rounded to a 6-dp lattice BEFORE the argmin/probe ranking:
    the codebook is data-derived (per-dim averages), so raw doubles carry
    summation-order ulp noise that differs between engines/partitionings;
    on the lattice, assignment flips only if two cells truly tie at 6 dp,
    and that tie breaks deterministically on cell id (both sides)."""
    return (
        x.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cell")
        .agg(F.sum(F.col("val") * F.col("c")).alias("dot"))
        .join(F.broadcast(cn), "cell")
        .select(
            "vec_id", "cell", F.round(F.col("dot") / F.col("cnorm"), 6).alias("score")
        )
    )


def _ivf_ranked(e: DataFrame) -> DataFrame:
    """Per-vector cell ranking ``(vec_id, cell, score, cr)`` on the 6-dp
    lattice — the ONE cell-assignment definition ``knn_ivf_topk`` and
    ``eval_ivf_nprobe_curve`` share (r10 review: the tuning curve is only
    meaningful if it grades the exact index the ranker deploys; two
    copies of the assignment stage could drift independently).

    r12: the returned ranking is pinned with ``.cache()`` — every caller
    consumes it from at least TWO subtrees (knn_ivf_topk: corpus cells +
    query probes; the curve: three probe depths), and uncached each
    consumer re-executed the double posexplode + |x| x |cells| scoring
    join. The pure-JVM lineage canonicalizes identically across calls,
    so the two registered consumers also share one materialization per
    session (CacheManager dedupes re-cache calls on an identical plan)."""
    x = e.select("vec_id", F.posexplode("embedding").alias("dim", "val")).withColumn(
        "val", F.col("val").cast("double")
    )
    cent = (
        e.select("label", F.posexplode("embedding").alias("dim", "val"))
        .groupBy(F.col("label").alias("cell"), "dim")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
    )
    cn = cent.groupBy("cell").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cnorm")
    )
    scores = _cell_scores(x, cent, cn)
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("cell").asc()
    )
    return scores.withColumn("cr", F.row_number().over(w_cell)).cache()


def _ivf_oracle() -> str:
    """DuckDB replica of the IVF pipeline. The label-centroid codebook is
    data-derived (per-dim averages), so centroid doubles differ from
    Spark's in the last ulp. Cell scores are therefore rounded to the
    same 6-dp lattice on BOTH sides before the row_number ranking (see
    ``_cell_scores``): assignment no longer depends on a data-dependent
    margin dwarfing ulp noise — a near-equidistant vector ties exactly at
    6 dp and the tie breaks on cell id identically in both engines.
    Rerank sims use the bit-identical fold dot. Verified row-identical at
    sf0.001/0.01.
    """
    return f"""
WITH x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
cent AS (
  SELECT e.label AS cell, i - 1 AS dim, avg(CAST(e.embedding[i] AS DOUBLE)) AS c
  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS g(i)
  GROUP BY 1, 2
),
cn AS (SELECT cell, sqrt(sum(c * c)) AS cnorm FROM cent GROUP BY 1),
dots AS (
  SELECT x.vec_id, ct.cell, sum(x.val * ct.c) AS dot
  FROM x JOIN cent ct USING (dim) GROUP BY 1, 2
),
sc AS (SELECT d.vec_id, d.cell, round(d.dot / cn.cnorm, 6) AS score FROM dots d JOIN cn USING (cell)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS cr
  FROM sc
),
corpus_cells AS (SELECT vec_id AS n_id, cell FROM ranked WHERE cr = 1),
probes AS (SELECT vec_id AS q_id, cell FROM ranked WHERE cr <= {IVF_NPROBE} AND vec_id < {N_QUERIES}),
cand AS (
  SELECT DISTINCT p.q_id, c.n_id FROM probes p JOIN corpus_cells c USING (cell)
  WHERE p.q_id <> c.n_id
),
sims AS (
  SELECT c.q_id, c.n_id, {_duck_dot('a.embedding', 'b.embedding')} AS sim
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.q_id
  JOIN embeddings b ON b.vec_id = c.n_id
)
SELECT q_id, n_id, round(sim, 6) AS sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM sims QUALIFY rn <= {TOP_K}
"""


@register("knn_ivf_topk", oracle=_ivf_oracle())
def knn_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate kNN: label centroids act as the coarse
    quantizer (a pretrained codebook — deterministic, unlike in-query
    k-means); each corpus vector lives in its nearest cell, each query
    probes its IVF_NPROBE closest cells and exact-reranks only those
    cells' members.

    The second ANN scale path next to ``knn_ann_lsh``: candidate count is
    ~(nprobe / n_cells) x corpus per query instead of the full corpus, and
    the corpus can be stored partitioned/bucketed BY CELL so a probe reads
    only its cells' partitions. Recall floor asserted in
    tests/test_similarity.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ranked = _ivf_ranked(e)
    corpus_cells = ranked.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("n_id"), "cell"
    )
    query_probes = ranked.filter(
        (F.col("cr") <= IVF_NPROBE) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("q_id"), "cell")

    cand = (
        query_probes.join(corpus_cells, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    # r13 (VERDICT r12 task 5): exact rerank via the shared fold kernel —
    # one n_id join instead of two embedding attaches, no per-pair
    # ArrowEvalPython fold, and block-local top-k pruning bounds the
    # window input by k x nq x n_blocks instead of the full probe volume.
    sims = _fold_rerank_candidates(spark, e, cand, sf_dir, block_topk=TOP_K)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", F.round("sim", 6).alias("sim"), "rn")
    )


@memo
def _query_matrix_broadcast(spark: SparkSession, sf_dir: str):
    """Broadcast of the bounded query side as (q_ids int64[nq],
    Q float64[nq x d], labels[nq]). Memoized for two reasons (VERDICT
    r12 task 4): (a) every kernel call previously paid a driver-side
    toPandas of the query rows at plan-construction time, and (b) a
    FRESH broadcast per call is serialized into the mapInPandas function
    bytes, making each call's canonicalized plan unique — which defeats
    CacheManager plan-identity reuse for any cached consumer of a kernel
    output (the r12 MMR rejection root-caused exactly this)."""
    q_pdf = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "label", "embedding")
        .toPandas()
    )
    q_ids = q_pdf["vec_id"].to_numpy()
    qm = np.vstack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    labels = q_pdf["label"].to_numpy()
    return spark.sparkContext.broadcast((q_ids, qm, labels))


def _fold_rerank_candidates(
    spark: SparkSession,
    e: DataFrame,
    cand: DataFrame,
    sf_dir: str,
    extra: str = "",
    block_topk: int | None = None,
) -> DataFrame:
    """Exact fold-order rerank of candidate pairs — the ONE kernel behind
    the ANN rerank stages (``knn_ann_lsh``, ``knn_ivf_topk``,
    ``eval_ivf_nprobe_curve``), r13 (VERDICT r12 task 5).

    ``cand`` carries (q_id, n_id[, extra...]). The corpus embedding joins
    on n_id ONCE; the bounded query side never moves — it rides in as the
    memoized ``_query_matrix_broadcast``. Each Arrow batch computes the
    exact LEFT-TO-RIGHT fold dot of its candidates vectorized
    (``acc += X[:, d] * Q[:, d]``, d ascending — the association order of
    ``dot_double_vec`` and the DuckDB oracle, bit-identical doubles).
    This replaces the previous shape — a second broadcast join attaching
    q_emb plus a per-pair ArrowEvalPython fold — so HALF the embedding
    bytes cross the Python boundary and one join disappears from the
    plan.

    With ``block_topk=k``, each batch emits only its top-k rows per query
    under the (sim desc, n_id asc) total order. The pruning is tie-safe
    WITHOUT a margin (unlike the GEMM kernel's candidates): the folds are
    already the exact published values, and any row in the global top-k
    is in its own block's top-k under the same lexsort order, so the
    downstream window ranks bit-identical numbers over a candidate set
    bounded by k x nq x n_blocks instead of the full candidate volume.

    ``extra``: schema fragment ("col type, ...") of carried-through
    candidate columns (e.g. the curve's min_cr).
    """
    bq = _query_matrix_broadcast(spark, sf_dir)
    extra_cols = [f.split()[0] for f in extra.split(",") if f.strip()]
    schema = "q_id long, n_id long, sim double" + (
        ", " + extra if extra else ""
    )
    k = block_topk

    def fold_sims(batches):
        q_ids, qm, _labs = bq.value
        order_q = np.argsort(q_ids, kind="stable")
        sorted_q = q_ids[order_q]
        for pdf in batches:
            if pdf.empty:
                continue
            qi = pdf["q_id"].to_numpy()
            ni = pdf["n_id"].to_numpy()
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            qrow = qm[order_q[np.searchsorted(sorted_q, qi)]]
            acc = np.zeros(len(qi))
            for d in range(x.shape[1]):  # sequential over dims == fold order
                acc += x[:, d] * qrow[:, d]
            keep = slice(None)
            if k is not None:
                o = np.lexsort((ni, -acc, qi))
                qs = qi[o]
                starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
                lens = np.diff(np.r_[starts, len(qs)])
                rank_in_q = np.arange(len(qs)) - np.repeat(starts, lens)
                keep = np.sort(o[rank_in_q < k])
            out = {"q_id": qi[keep], "n_id": ni[keep], "sim": acc[keep]}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()[keep]
            yield pd.DataFrame(out)

    n_emb = e.select(F.col("vec_id").alias("n_id"), "embedding")
    cols = ["q_id", "n_id", *extra_cols, "embedding"]
    return (
        cand.join(n_emb, "n_id")
        .select(*cols)
        .mapInPandas(fold_sims, schema=schema)
    )


def _gemm_topk_candidates(
    spark: SparkSession, e: DataFrame, sf_dir: str, label_mask: bool = False
) -> DataFrame:
    """Block-GEMM top-k candidate generator — the ONE kernel behind
    ``knn_gemm_topk``, ``emb_knn_outlier`` and ``sample_hard_negatives``
    (r12 optimization: the latter two previously re-ran the broadcast
    pair pass through the per-pair Arrow fold UDF, shipping every
    (query, corpus) pair's two 64-dim arrays across the Python boundary;
    this kernel streams the corpus ONCE and moves only candidates).

    The query matrix (nq x d, tiny) is broadcast; each Arrow batch of
    the streamed corpus does ONE numpy GEMM (block x Q^T) and emits only
    its block-local top-k per query, so the sole shuffle is the
    candidate set (<= k x nq x n_blocks rows). Any global top-k row is
    inside its own block's top-k, so the union of block-local top-k sets
    contains the global top-k and a downstream row_number window
    recovers exactly the global ranking.

    Boundary discipline (r10 review, same rule as ``gemm_pairs_tiled``):
    BLAS reassociates the d=64 sum, so an emitted sim could round or
    tie-rank differently than the oracle's sequential fold. Each block
    therefore takes its local candidates at the k-th GEMM score minus
    1e-9 (margin >> the ~1e-12 reassociation error of unit dots),
    re-scores ONLY those candidates with an exact left-to-right fold
    (``np.add.accumulate`` — the association order of ``dot_double_vec``
    and the DuckDB oracle), and ranks/emits the fold values; the global
    window then orders bit-identical numbers on both engines.

    Block-local pruning is tie-safe: blocks rank by (-sim, n_id) via
    lexsort, the same total order as the global window.

    With ``label_mask=True`` corpus rows sharing the query's label are
    excluded (hard-negative mining) and the candidate rows carry
    ``q_label``/``n_label``. Emitted sims are RAW fold doubles —
    callers round (or lattice) per their own oracle.
    """
    # r13 (VERDICT r12 task 4): the query side comes from the memoized
    # per-(session, sf_dir) broadcast — no per-call toPandas at plan
    # construction, and the pickled kernel bytes stay identical across
    # calls (stable canonicalized plan; see _query_matrix_broadcast).
    bq = _query_matrix_broadcast(spark, sf_dir)
    use_mask = label_mask

    def block_topk(batches):
        ids_q, qm, labs_all = bq.value
        qmat = qm.T  # d x nq, the GEMM orientation
        labs_q = labs_all if use_mask else None
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            labs = pdf["label"].to_numpy() if labs_q is not None else None
            block = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = block @ qmat  # n_block x nq — the GEMM
            out = {k: [] for k in ("q_id", "n_id", "sim")}
            if labs_q is not None:
                out["q_label"] = []
                out["n_label"] = []
            for j, qid in enumerate(ids_q):
                drop = ids == qid
                if labs_q is not None:
                    drop = drop | (labs == labs_q[j])
                col = np.where(drop, -np.inf, sims[:, j])
                idx = np.nonzero(np.isfinite(col))[0]
                if len(idx) > TOP_K:
                    kth = np.partition(col[idx], len(idx) - TOP_K)[
                        len(idx) - TOP_K
                    ]
                    idx = idx[col[idx] >= kth - 1e-9]
                # exact fold-order re-score of the candidates (boundary
                # discipline in the docstring)
                fold = np.add.accumulate(
                    block[idx] * qmat[:, j][None, :], axis=1
                )[:, -1] if len(idx) else np.empty(0)
                order = np.lexsort((ids[idx], -fold))[:TOP_K]
                out["q_id"].append(np.full(len(order), qid))
                out["n_id"].append(ids[idx[order]])
                out["sim"].append(fold[order])
                if labs_q is not None:
                    out["q_label"].append(np.full(len(order), labs_q[j]))
                    out["n_label"].append(labs[idx[order]])
            yield pd.DataFrame(
                {k: np.concatenate(v) for k, v in out.items()}
            )

    schema = "q_id long, n_id long, sim double"
    in_cols = ["vec_id", "embedding"]
    if label_mask:
        schema = "q_id long, n_id long, sim double, q_label int, n_label int"
        in_cols = ["vec_id", "label", "embedding"]
    return e.select(*in_cols).mapInPandas(block_topk, schema=schema)


@register("knn_gemm_topk", oracle=_KNN_TOPK_ORACLE)
def knn_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force kNN as a block matrix multiply (see
    :func:`_gemm_topk_candidates` — the shared kernel): the query matrix
    is broadcast, each corpus block emits block-local top-k candidates
    with exact fold-order sims, and one q_id window recovers the global
    top-k.

    This is the 100-TB brute-force scale path: per-executor work is a
    dense f64 GEMM (BLAS, ~10-100x the throughput of the expression-tree
    fold in ``knn_cosine_topk``), memory is one corpus block at a time,
    and nothing but candidates ever moves. Same oracle as
    ``knn_cosine_topk``.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cand = _gemm_topk_candidates(spark, e, sf_dir)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", F.round("sim", 6).alias("sim"), "rn")
    )


GEMM_TILE_BLOCKS = 8  # B: corpus splits into B row-blocks -> B(B+1)/2 tiles


def gemm_pairs_tiled(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    attr_col: str | None = None,
    attr_type: str = "int",
    tau: float = PAIR_TAU,
    n_blocks: int = GEMM_TILE_BLOCKS,
) -> DataFrame:
    """Exact all-pairs similarity self-join as a DISTRIBUTED tiled GEMM —
    no driver-side corpus materialization anywhere.

    Every row lands in block ``pid % B``; each unordered block pair
    (i <= j) is one tile. A row of block b is shipped to tiles (b, j>=b)
    as the left side and (i<=b, b) as the right side — one explode, so
    shuffle volume is n x (B+1) rows into a groupBy on the tile key. Each
    tile then runs ONE BLAS matmul (A @ B^T) over its two blocks and
    emits only the (id_a < id_b, sim >= tau) survivors.

    Scale posture (100 TB): pick B so one block (~n/B x d doubles) fits a
    task — the kernel's memory is two blocks regardless of n, work is the
    unavoidable n^2/2 at BLAS speed, and nothing is ever collected to the
    driver (the broadcast-corpus variant of this kernel OOMs the driver
    once n x d outgrows ~10 GB; this form replaces it). An LSH bucket
    join (``knn_ann_lsh``) cuts candidates below n^2 but is approximate —
    at tau = {tau} its pair recall is ~0.5 with the 8x6-bit tables, so
    the exact tile kernel is the form that hash-matches the n^2 oracle.

    Boundary discipline (r9 review): the BLAS matmul reassociates the
    sum, so a pair whose TRUE fold-order dot sits within accumulation
    error of tau could cross the threshold differently than the
    oracle's sequential fold. The tile therefore collects candidates at
    ``tau - 1e-9`` (three orders of magnitude wider than the ~1e-12
    reassociation error of 64-dim unit dots), re-scores each candidate
    with an exact LEFT-TO-RIGHT fold (``np.add.accumulate`` — the same
    association order as ``dot_double_vec`` and the DuckDB oracle), and
    filters/emits on the fold value — so the returned sims and the
    tau cut are bit-identical to the fold semantics at any boundary.

    Returns pairs ``(id_a, id_b[, attr_a, attr_b], sim)`` with
    ``id_a < id_b`` and raw (unrounded) fold-order double sims.
    """
    import numpy as np
    import pandas as pd

    cols = [F.col(id_col).alias("pid"), F.col(emb_col).alias("emb")]
    if attr_col is not None:
        cols.append(F.col(attr_col).alias("attr"))
    base = df.select(*cols).withColumn(
        "blk", F.pmod(F.col("pid"), F.lit(n_blocks)).cast("int")
    )
    left = (
        base.withColumn("tj", F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))))
        .withColumn("ti", F.col("blk"))
        .withColumn("side", F.lit(0))
    )
    right = (
        base.withColumn("ti", F.explode(F.sequence(F.lit(0), F.col("blk"))))
        .withColumn("tj", F.col("blk"))
        .withColumn("side", F.lit(1))
    )
    tiles = left.unionByName(right).drop("blk")

    has_attr = attr_col is not None
    schema = (
        f"id_a long, id_b long, attr_a {attr_type}, attr_b {attr_type}, sim double"
        if has_attr
        else "id_a long, id_b long, sim double"
    )
    empty_cols = ["id_a", "id_b", "attr_a", "attr_b", "sim"] if has_attr else [
        "id_a", "id_b", "sim"
    ]

    def tile_pairs(key, pdf):
        ti, tj = key
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({c: [] for c in empty_cols})
        ids_a = a["pid"].to_numpy()
        ids_b = b["pid"].to_numpy()
        amat = np.vstack(a["emb"].to_numpy()).astype(np.float64)
        bmat = np.vstack(b["emb"].to_numpy()).astype(np.float64)
        sims = amat @ bmat.T  # the GEMM — one BLAS call per tile
        mask = sims >= tau - 1e-9  # candidates: see boundary discipline
        if ti == tj:
            # both sides are the same block: strict < dedupes + drops self
            mask &= ids_a[:, None] < ids_b[None, :]
        rows, cols_ = np.nonzero(mask)
        # exact fold-order re-score of the (few) candidates: cumsum is
        # sequential left-to-right, the oracle's association order
        fold = np.add.accumulate(amat[rows] * bmat[cols_], axis=1)[:, -1] if len(rows) else np.empty(0)
        keep = fold >= tau
        rows, cols_, fold = rows[keep], cols_[keep], fold[keep]
        ia, ib = ids_a[rows], ids_b[cols_]
        swap = ia > ib  # cross tiles carry both orders; canonicalize
        out = {
            "id_a": np.where(swap, ib, ia),
            "id_b": np.where(swap, ia, ib),
            "sim": fold,
        }
        if has_attr:
            at_a = a["attr"].to_numpy()[rows]
            at_b = b["attr"].to_numpy()[cols_]
            out["attr_a"] = np.where(swap, at_b, at_a)
            out["attr_b"] = np.where(swap, at_a, at_b)
        return pd.DataFrame(out)[empty_cols]

    return tiles.groupBy("ti", "tj").applyInPandas(tile_pairs, schema=schema)


def gemm_cross_tiled(
    a_df: DataFrame,
    b_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    tau: float = PAIR_TAU,
    a_blocks: int = 4,
    b_blocks: int = 2,
) -> DataFrame:
    """Cross-TABLE threshold similarity join (A x B) as a distributed
    tiled GEMM — the two-relation generalization of ``gemm_pairs_tiled``,
    with no driver-side materialization of EITHER side.

    A splits into ``a_blocks`` row-blocks, B into ``b_blocks``; every
    (ia, ib) block pair is one tile. An A row ships to its row's
    ``b_blocks`` tiles, a B row to its ``a_blocks`` tiles — shuffle
    volume is |A| x b_blocks + |B| x a_blocks rows into one groupBy on
    the tile key, then ONE BLAS matmul per tile emits only the
    sim >= tau survivors.

    This is the kernel for train-vs-eval similarity (semantic
    decontamination) once the eval set outgrows a broadcast: neither
    side is collected, both stream through Arrow, and the block counts
    tune the shuffle-fanout/tile-memory trade independently per side
    (keep b_blocks small when B is the smaller relation). Returns
    ``(a_id, b_id, sim)`` with raw double sims.
    """
    import numpy as np
    import pandas as pd

    a = (
        a_df.select(F.col(id_col).alias("pid"), F.col(emb_col).alias("emb"))
        .withColumn("blk", F.pmod(F.col("pid"), F.lit(a_blocks)).cast("int"))
        .withColumn("ib", F.explode(F.sequence(F.lit(0), F.lit(b_blocks - 1))))
        .select(F.col("blk").alias("ia"), "ib", "pid", "emb", F.lit(0).alias("side"))
    )
    b = (
        b_df.select(F.col(id_col).alias("pid"), F.col(emb_col).alias("emb"))
        .withColumn("blk", F.pmod(F.col("pid"), F.lit(b_blocks)).cast("int"))
        .withColumn("ia", F.explode(F.sequence(F.lit(0), F.lit(a_blocks - 1))))
        .select("ia", F.col("blk").alias("ib"), "pid", "emb", F.lit(1).alias("side"))
    )
    tiles = a.unionByName(b)

    def tile(key, pdf):
        av = pdf[pdf["side"] == 0]
        bv = pdf[pdf["side"] == 1]
        if av.empty or bv.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "sim": []})
        ids_a = av["pid"].to_numpy()
        ids_b = bv["pid"].to_numpy()
        amat = np.vstack(av["emb"].to_numpy()).astype(np.float64)
        bmat = np.vstack(bv["emb"].to_numpy()).astype(np.float64)
        sims = amat @ bmat.T
        # same boundary discipline as gemm_pairs_tiled: collect at
        # tau - 1e-9, re-score candidates with the exact left-to-right
        # fold, cut and emit on the fold value
        r, c = np.nonzero(sims >= tau - 1e-9)
        fold = (
            np.add.accumulate(amat[r] * bmat[c], axis=1)[:, -1]
            if len(r)
            else np.empty(0)
        )
        keep = fold >= tau
        r, c, fold = r[keep], c[keep], fold[keep]
        return pd.DataFrame({"a_id": ids_a[r], "b_id": ids_b[c], "sim": fold})

    return tiles.groupBy("ia", "ib").applyInPandas(
        tile, "a_id long, b_id long, sim double"
    )


def gemm_cross_broadcast(
    spark: SparkSession,
    a_df: DataFrame,
    b_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    tau: float = PAIR_TAU,
) -> DataFrame:
    """Cross-table threshold similarity (A x B) with the BOUNDED B side
    broadcast — the one-pass sibling of :func:`gemm_cross_tiled` for
    when B fits a broadcast (the knn query-side pattern): A streams ONCE
    through ``mapInPandas``, each Arrow batch runs one numpy GEMM
    against the broadcast B matrix and emits only threshold survivors.
    r12: replaces broadcast-BNLJ callers that shipped every (a, b)
    pair's two embedding arrays through the per-pair Arrow fold
    (|A| x |B| x 2d doubles across the Python boundary per run; this
    kernel moves |A| x d once plus survivors).

    Boundary discipline (same rule as ``gemm_pairs_tiled``): candidates
    collect at ``tau - 1e-9`` on the GEMM values (margin >> the ~1e-12
    reassociation error of unit dots), are re-scored with the exact
    left-to-right fold, and are cut and emitted on the FOLD value — so
    the returned ``(a_id, b_id, sim)`` rows and sims are bit-identical
    to a per-pair ``dot_double_vec`` pass filtered at ``sim >= tau``.
    Rows with NULL embeddings are dropped (a NULL fold sim can never
    pass the threshold); embeddings CONTAINING NaN yield NaN GEMM sims,
    which fail the ``>=`` collect exactly like the fold path's NaN.
    """
    import numpy as np
    import pandas as pd

    b_pdf = b_df.select(F.col(id_col), F.col(emb_col)).toPandas()
    ids_b_drv = b_pdf[id_col].to_numpy()
    bt_drv = np.vstack(b_pdf[emb_col].to_numpy()).astype(np.float64).T  # d x nb
    bb = spark.sparkContext.broadcast((ids_b_drv, bt_drv))

    def block_hits(batches):
        ids_b, bmat = bb.value
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf[pdf[emb_col].notna()]
            if pdf.empty:
                continue
            ids_a = pdf[id_col].to_numpy()
            block = np.vstack(pdf[emb_col].to_numpy()).astype(np.float64)
            sims = block @ bmat  # n_block x nb — the GEMM
            r, c = np.nonzero(sims >= tau - 1e-9)
            if not len(r):
                continue
            fold = np.add.accumulate(block[r] * bmat[:, c].T, axis=1)[:, -1]
            keep = fold >= tau
            r, c, fold = r[keep], c[keep], fold[keep]
            yield pd.DataFrame({"a_id": ids_a[r], "b_id": ids_b[c], "sim": fold})

    return a_df.select(id_col, emb_col).mapInPandas(
        block_hits, schema="a_id long, b_id long, sim double"
    )


@register(
    "knn_threshold_gemm",
    oracle=f"""
WITH sims AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label_a, b.label AS label_b,
           {_duck_dot('a.embedding', 'b.embedding')} AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, label_a, label_b, round(sim, 6) AS sim
FROM sims WHERE sim >= {PAIR_TAU}
""",
)
def knn_threshold_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact similarity self-join through the distributed tiled GEMM
    kernel (``gemm_pairs_tiled``): corpus blocks meet in B(B+1)/2 tiles,
    one BLAS matmul per tile, only the (id_a < id_b, sim >= tau)
    survivors are emitted. Unlike the earlier broadcast-corpus form,
    NOTHING is collected to the driver — the kernel scales to corpora far
    beyond broadcast size by raising B. This is the FULL-CORPUS threshold
    join (~25x faster than an expression fold); ``knn_threshold_pairs``
    states the same semantics as a vec_id-bounded exact baseline, and
    their agreement inside the bound is pinned by
    tests/test_similarity.py::test_threshold_gemm_equals_fold.
    """
    e = load_table(spark, sf_dir, "embeddings")
    pairs = gemm_pairs_tiled(
        e.select("vec_id", "label", "embedding"), attr_col="label"
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.col("attr_a").alias("label_a"),
        F.col("attr_b").alias("label_b"),
        F.round("sim", 6).alias("sim"),
    )


# --------------------------------------------------------------------------
# k-means, 2 fixed assignment rounds (Lloyd's algorithm on the embeddings)
# --------------------------------------------------------------------------

_KMEANS_K = 4


def _kmeans_oracle() -> str:
    dot_xc = _duck_dot("e.embedding", "c.c_emb")
    csq = _duck_dot("c.c_emb", "c.c_emb")
    assign = """
a{i} AS (
  SELECT e.vec_id, c.c_id,
         1.0 + {csq} - 2 * {dot} AS d2
  FROM embeddings e CROSS JOIN c{j} c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d2 ASC, c.c_id ASC) = 1
)"""
    update = """
u{i} AS (
  SELECT a.c_id, d.i, avg(CAST(d.v AS DOUBLE)) AS v
  FROM a{i} a
  JOIN (SELECT vec_id, unnest(embedding) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings) d USING (vec_id)
  GROUP BY 1, 2
),
c{i} AS (SELECT c_id, list(v ORDER BY i) AS c_emb FROM u{i} GROUP BY 1)"""
    return f"""
WITH c0 AS (
  SELECT CAST(vec_id AS INT) AS c_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {_KMEANS_K}
),
{assign.format(i=1, j=0, csq=csq, dot=dot_xc)},
{update.format(i=1)},
{assign.format(i=2, j=1, csq=csq, dot=dot_xc)}
SELECT vec_id, c_id AS cluster, round(d2, 4) AS d2 FROM a2
"""


@register("ml_kmeans_2iter", oracle=_kmeans_oracle())
def ml_kmeans_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, deterministic init = first k vectors, two
    assignment rounds with one centroid update between) — the iterative
    ML clustering primitive, expressed as pure DataFrame rounds like the
    PageRank op: assignment folds over the k-candidate array IN-ROW
    (the k centroids collapse to a single broadcast array-of-structs
    row), so a round's assignment is a pure projection — ZERO shuffle,
    no n x k intermediate ever exists; the centroid update is
    posexplode + avg keyed on (cluster, dim) — cardinality k x dims,
    tiny. Nothing is collected to the driver; the oracle unrolls the
    same two rounds over `unnest WITH ORDINALITY`.

    Distances use d² = |x|² + |c|² - 2x·c with |x|² = 1 (unit-norm
    corpus), the dot computed by the shared left-to-right double fold —
    bit-identical across engines on round 1; round-2 centroids carry
    avg() summation-order ulp noise, absorbed by the argmin margin
    (property-tested) and the round-4 on d². The fold scans candidates
    in ascending c_id (array_sort on the struct's leading field) with a
    strict '<', which IS the (d2 asc, c_id asc) pick of the oracle's
    row_number — same rule, no window. (The previous window form
    shuffled and sorted the n x k crossJoin on vec_id; bench halved
    when the argmin moved in-row.)

    Scale: per round, the broadcast-array join streams the corpus once
    and the update shuffles k x dims partial sums — the classic
    'map-side heavy, reduce-side trivial' shape; 100 TB of vectors adds
    executors, not shuffle volume.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # r12: the broadcast-candidate argmin fold fuses into the scan stage,
    # and the single-row-group file makes that ONE task (guide §2.5) —
    # spread the 2-column projection so both assignment rounds fold in
    # parallel. c0 keeps the raw scan (its vec_id filter pushes down).
    e_rows = spread(e.select("vec_id", "embedding"), "vec_id")

    def assign(cents: DataFrame) -> DataFrame:
        cand = cents.agg(
            F.array_sort(F.collect_list(F.struct("c_id", "c_emb", "csq"))).alias(
                "cands"
            )
        )
        init = F.struct(
            F.lit(float("inf")).cast("double").alias("d2"),
            F.lit(-1).alias("c_id"),
        )

        def step(acc, c):
            # Catalyst fold, NOT dot_double_vec: a Python UDF inside a
            # higher-order-function lambda is unsupported (0A000).
            d2 = F.lit(1.0) + c["csq"] - 2 * dot_double(F.col("embedding"), c["c_emb"])
            return F.when(
                d2 < acc["d2"],
                F.struct(d2.alias("d2"), c["c_id"].alias("c_id")),
            ).otherwise(acc)

        best = F.aggregate(F.col("cands"), init, step)
        return (
            e_rows.crossJoin(F.broadcast(cand))
            .select("vec_id", "embedding", best.alias("best"))
            .select(
                "vec_id",
                "embedding",
                F.col("best.c_id").alias("c_id"),
                F.col("best.d2").alias("d2"),
            )
        )

    c0 = e.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        dot_double_vec(F.col("embedding"), F.col("embedding")).alias("csq"),
    )
    a1 = assign(c0)
    # embedding rides along the assignment row — no corpus rejoin
    ex = a1.select("c_id", F.posexplode("embedding").alias("i", "v"))
    c1 = (
        ex.groupBy("c_id", "i")
        .agg(F.avg(F.col("v").cast("double")).alias("v"))
        .groupBy("c_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "v"))), lambda s: s["v"]
            ).alias("c_emb")
        )
        .withColumn("csq", dot_double_vec(F.col("c_emb"), F.col("c_emb")))
    )
    a2 = assign(c1)
    return a2.select(
        "vec_id", F.col("c_id").alias("cluster"), F.round("d2", 4).alias("d2")
    )


# --------------------------------------------------------------------------
# Int8-quantized top-k similarity (memory-bound serving path)
# --------------------------------------------------------------------------

_DUCK_INT8_MAXABS = (
    "list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), "
    "(a, b) -> CASE WHEN a >= b THEN a ELSE b END)"
)


def _duck_int8_cte() -> str:
    """The ``scaled``/``q8`` CTE pair every int8 oracle shares — the SQL
    twin of :func:`_int8_quantized`, including the zero-magnitude guard
    (r10 review: an all-zero embedding made scale infinite — NaN codes on
    Spark, a BIGINT cast error on DuckDB; both engines now exclude it)."""
    return f"""scaled AS (
  SELECT vec_id, embedding, 127.0 / {_DUCK_INT8_MAXABS} AS scale
  FROM embeddings
  WHERE {_DUCK_INT8_MAXABS} > 0
),
q8 AS (
  SELECT vec_id, scale,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
  FROM scaled
)"""


def _int8_quantized(e: DataFrame) -> DataFrame:
    """Symmetric int8 quantization ``(vec_id, scale, qv)`` with the
    zero-magnitude guard — ONE definition for the serving family
    (knn_quantized_topk, knn_rerank_two_stage, eval_rerank_recall); the
    oracle twin is :func:`_duck_int8_cte`. An all-zero embedding has no
    valid scale (127/0 = inf -> 0*inf = NaN codes) and cannot match
    anything, so it is excluded on BOTH engines — the same convention as
    ``emb_quantize_error``'s ``scale > 0`` filter."""
    mx = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    scaled = e.select(
        "vec_id", "embedding", (F.lit(127.0) / mx).alias("scale")
    ).filter(mx > 0)
    return scaled.select(
        "vec_id",
        "scale",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("qv"),
    )


def _int8_query_broadcast(spark: SparkSession, q: DataFrame):
    """Broadcast the bounded query side (N_QUERIES rows — the one
    legitimate collect) as ``(ids, scales, d x nq int64 matrix)``."""
    import numpy as np

    q_pdf = q.filter(F.col("vec_id") < N_QUERIES).toPandas()
    q_ids = q_pdf["vec_id"].to_numpy()
    q_scales = q_pdf["scale"].to_numpy(dtype=np.float64)
    qt = np.vstack(q_pdf["qv"].to_numpy()).astype(np.int64).T  # d x nq
    return spark.sparkContext.broadcast((q_ids, q_scales, qt))


def _int8_block_topk_gen(bq, k: int, out_col: str):
    """Block-local top-``k`` generator over the exact int64 GEMM — the
    ONE copy of the kernel knn_quantized_topk (k=TOP_K, ``sim``) and
    knn_rerank_two_stage's coarse pass (k=RERANK_POOL, ``csim``) share
    (r10 review: three hand-synchronized copies of the self-exclusion /
    lexsort-tie / descale math). Integer dots are exact in int64 and the
    descale division uses the same IEEE double operands as the oracle,
    so no fold re-score is needed (unlike the float GEMM of
    knn_gemm_topk)."""
    import numpy as np
    import pandas as pd

    def gen(batches):
        ids_q, sc_q, qmat = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            sc_b = pdf["scale"].to_numpy(dtype=np.float64)
            block = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            idots = block @ qmat  # exact int64 GEMM
            sims = idots.astype(np.float64) / (sc_b[:, None] * sc_q[None, :])
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids_q):
                col = np.where(ids == qid, -np.inf, sims[:, j])
                order = np.lexsort((ids, -col))[:k]
                keep = order[np.isfinite(col[order])]
                out_q.append(np.full(len(keep), qid))
                out_n.append(ids[keep])
                out_s.append(col[keep])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "n_id": np.concatenate(out_n),
                    out_col: np.concatenate(out_s),
                }
            )

    return gen


_QUANT_ORACLE = f"""
WITH {_duck_int8_cte()},
sims AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         list_reduce(list_transform(generate_series(1, len(a.qv)),
                                    i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)
           / (a.scale * b.scale) AS sim
  FROM q8 a JOIN q8 b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
)
SELECT q_id, n_id, round(sim, 6) AS sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM sims
QUALIFY rn <= {TOP_K}
"""


@register("knn_quantized_topk", oracle=_QUANT_ORACLE)
def knn_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cosine search over INT8-quantized vectors: symmetric per-
    vector quantization (scale = 127/max|x|, q = floor(x*scale + 0.5)),
    integer dot products, de-scaled at the end — 4x less vector memory
    and integer SIMD kernels at serving time, with the approximation
    error bounded by the quantization step. The arithmetic is exact
    integer + deterministic double ops, so the whole approximate
    pipeline hash-checks against the oracle (floor(x+0.5) is used on
    both sides — engine round() halfway conventions differ).

    Scale posture (100 TB): quantize ONCE at ingest (per-row projection,
    no shuffle), store qv+scale alongside the fp vector; the search runs
    as the integer GEMM kernel below — the bounded query matrix (int64)
    broadcasts, each streamed Arrow block of the corpus does ONE integer
    matmul and emits only its block-local top-k, so the sole shuffle is
    the candidate set. Integer dots are exact in int64 (|dot| <=
    d*127^2) and the de-scaling division uses the same IEEE double
    operands as the expression-fold form, so the kernel is bit-identical
    to it (and to the SQL oracle).
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = _int8_quantized(e)
    bq = _int8_query_broadcast(spark, q)
    cand = q.mapInPandas(
        _int8_block_topk_gen(bq, TOP_K, "sim"),
        schema="q_id long, n_id long, sim double",
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", F.round("sim", 6).alias("sim"), "rn")
    )


# --------------------------------------------------------------------------
# Binary (1-bit) hamming top-k — the extreme end of the quantization ladder
# --------------------------------------------------------------------------

_HAM_WORDS = 2  # 64 dims packed as 2 x 32-bit words (positive bigints)
_HAM_WORD_BITS = EMB_DIM // _HAM_WORDS


def _ham_word_sql(w: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN embedding[{w * _HAM_WORD_BITS + d + 1}] > 0 "
        f"THEN CAST({1 << d} AS BIGINT) ELSE 0 END)"
        for d in range(_HAM_WORD_BITS)
    )
    return f"({terms})"


def _ham_word_spark(w: int):
    """Unrolled expression form of the sign-bit pack — kept as the
    oracle-shaped reference the Arrow kernel is pinned against
    (tests/test_kernels.py). NOT used in the operator plan: a 64-term
    expression tree costs ~3 s of Catalyst optimization per plan, which
    dwarfs the actual work at any corpus size."""
    terms = [
        F.when(
            F.col("embedding").getItem(w * _HAM_WORD_BITS + d) > 0,
            F.lit(1 << d).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for d in range(_HAM_WORD_BITS)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


_HAM_PACK_UDF = None


def sign_pack_words(col):
    """array<float> embedding -> array<bigint>[2] sign-bit words — the
    Arrow-vectorized twin of ``_ham_word_spark(0..1)``. Pure integer
    construction (bit i of word w set iff embedding[32w+i] > 0), so it
    is bit-identical to the expression fold and to the SQL oracle by
    definition; numpy evaluates the 64 comparisons as two matrix ops
    instead of a 128-node Catalyst expression tree (which costs ~3 s of
    optimizer time per plan — the fold-replay lesson from
    docs/dialect_notes.md applied to plan-time instead of run-time)."""
    global _HAM_PACK_UDF
    if _HAM_PACK_UDF is None:

        @F.pandas_udf("array<bigint>")
        def _pack(emb: pd.Series) -> pd.Series:
            if emb.empty:
                return pd.Series([], dtype=object)
            m = np.vstack(emb.to_numpy()) > 0  # n x 64 sign bits
            weights = (np.int64(1) << np.arange(_HAM_WORD_BITS, dtype=np.int64))
            w0 = (m[:, :_HAM_WORD_BITS] * weights).sum(axis=1)
            w1 = (m[:, _HAM_WORD_BITS:] * weights).sum(axis=1)
            return pd.Series([[int(a), int(b)] for a, b in zip(w0, w1)])

        _HAM_PACK_UDF = _pack
    return _HAM_PACK_UDF(col)


_HAMMING_ORACLE = f"""
WITH packed AS (
  SELECT vec_id,
         {_ham_word_sql(0)} AS b0,
         {_ham_word_sql(1)} AS b1
  FROM embeddings
),
sims AS (
  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         CAST(bit_count(xor(q.b0, e.b0)) + bit_count(xor(q.b1, e.b1)) AS INT)
           AS hamming
  FROM packed q CROSS JOIN packed e
  WHERE q.vec_id < {N_QUERIES} AND e.vec_id <> q.vec_id
)
SELECT q_id, n_id, hamming,
       CAST(row_number() OVER (PARTITION BY q_id
                               ORDER BY hamming ASC, n_id ASC) AS INT) AS rn
FROM sims
QUALIFY rn <= {TOP_K}
"""


@register("knn_hamming_topk", oracle=_HAMMING_ORACLE)
def knn_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval over 1-BIT binarized embeddings: sign-bit
    binarization packs each 64-dim vector into two 32-bit words (64x
    less vector memory than fp32), and similarity is the Hamming
    distance of the sign patterns — two XOR+popcount ops per pair, the
    memory-bandwidth-bound serving kernel binary-quantized retrieval
    systems run. Completes the repo's quantization ladder (fp64 exact ->
    int8 -> PQ -> matryoshka -> 1-bit); recall vs the exact ranker is
    measured by the eval_rank_metrics harness pattern.

    Everything is integer: the pack is an unrolled 32-term CASE sum per
    word (whole-stage codegen, no fold lambdas), the distance is
    bit_count(a XOR b) — bit-identical across engines by construction,
    so even this aggressive approximation hash-checks.

    Plan shape: pack at scan (per-row projection), broadcast the 100-row
    packed query side into a nested-loop join against the streamed
    packed corpus (16 bytes/row, no corpus shuffle), one shuffle on q_id
    for the top-k window. At 100 TB the packed corpus is the only thing
    read — 64x less IO than the fp path — and block-local top-k via the
    GEMM-kernel pattern (knn_gemm_topk) drops the window shuffle too.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # r12 measured-and-rejected: spreading the pack projection (§2.5)
    # made warm runs 0.90-0.95 -> 1.64-2.32 s med in an ABBA probe —
    # 2k rows of integer CASE sums is trivial per task, far below the
    # exchange-amortization threshold (ml_naive_bayes rejection note).
    packed = e.select(
        "vec_id", sign_pack_words(F.col("embedding")).alias("bw")
    ).select(
        "vec_id",
        F.col("bw").getItem(0).alias("b0"),
        F.col("bw").getItem(1).alias("b1"),
    )
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("b0").alias("q0"),
        F.col("b1").alias("q1"),
    )
    sims = (
        packed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            (
                F.expr("bit_count(q0 ^ b0)") + F.expr("bit_count(q1 ^ b1)")
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("hamming").asc(), F.col("n_id").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "hamming", "rn")
    )


# --------------------------------------------------------------------------
# Product-quantization ANN (ADC scoring over per-subspace codebooks)
# --------------------------------------------------------------------------

_PQ_SUBS = 4
_PQ_SUBDIM = EMB_DIM // _PQ_SUBS


_PQ_ORACLE = f"""
WITH x AS (
  SELECT vec_id, label,
         (i - 1) // {_PQ_SUBDIM} AS s, (i - 1) % {_PQ_SUBDIM} AS j,
         CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
cent AS (SELECT label AS code, s, j, avg(val) AS c FROM x GROUP BY 1, 2, 3),
c2 AS (SELECT code, s, sum(c * c) AS c2 FROM cent GROUP BY 1, 2),
dots AS (
  SELECT x.vec_id, x.s, ct.code, sum(x.val * ct.c) AS dot
  FROM x JOIN cent ct ON x.s = ct.s AND x.j = ct.j
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.vec_id, d.s, d.code, d.dot,
         round(d.dot - c2.c2 / 2, 6) AS score
  FROM dots d JOIN c2 ON c2.code = d.code AND c2.s = d.s
),
codes AS (
  SELECT vec_id, s, code,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, code ASC) AS r
  FROM scored
),
corpus_codes AS (SELECT vec_id AS n_id, s, code FROM codes WHERE r = 1),
qd AS (SELECT vec_id AS q_id, s, code, dot FROM scored WHERE vec_id < {N_QUERIES}),
sims AS (
  SELECT qd.q_id, cc.n_id, round(sum(qd.dot), 6) AS sim
  FROM corpus_codes cc JOIN qd ON qd.s = cc.s AND qd.code = cc.code
  WHERE qd.q_id <> cc.n_id
  GROUP BY 1, 2
)
SELECT q_id, n_id, sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM sims QUALIFY rn <= {TOP_K}
"""


def _pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s, code, dot, score) for every (vector, subspace, code):
    the exact subvector · centroid dot and its rounded argmin-L2 score.
    Feeds both the corpus code assignment and the query-side ADC LUT."""
    e = load_table(spark, sf_dir, "embeddings")
    x = (
        e.select("vec_id", "label", F.posexplode("embedding").alias("i", "val"))
        .select(
            "vec_id",
            "label",
            (F.col("i") / _PQ_SUBDIM).cast("int").alias("s"),
            (F.col("i") % _PQ_SUBDIM).alias("j"),
            F.col("val").cast("double").alias("val"),
        )
    )
    cent = x.groupBy(F.col("label").alias("code"), "s", "j").agg(
        F.avg("val").alias("c")
    )
    c2 = cent.groupBy("code", "s").agg(F.sum(F.col("c") * F.col("c")).alias("c2"))
    dots = (
        x.join(F.broadcast(cent), ["s", "j"])
        .groupBy("vec_id", "s", "code")
        .agg(F.sum(F.col("val") * F.col("c")).alias("dot"))
    )
    # r12 note: pinning scored (it feeds both the corpus code assignment
    # and the query-side ADC LUT) was measured a wash at sf0.1 (A/B med
    # 1.96 vs 2.09 s) — the scoring subtree is cheap next to the windows
    # — so the pin is deliberately NOT applied.
    return dots.join(F.broadcast(c2), ["code", "s"]).select(
        "vec_id", "s", "code", "dot",
        F.round(F.col("dot") - F.col("c2") / 2, 6).alias("score"),
    )


@memo
def _pq_query_lut(spark: SparkSession, sf_dir: str):
    """Broadcast (q_ids, LUT[nq x subs x codes]) of the per-query ADC
    lookup table (the `dot` of every (query, subspace, code) cell).
    Data-derived, so building it runs one bounded Spark job at first
    construction (query-side filter pushes down; the centroid build is
    the only corpus-wide part)."""
    pdf = (
        _pq_scored(spark, sf_dir)
        .filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "s", "code", "dot")
        .toPandas()
    )
    q_ids = np.sort(pdf["vec_id"].unique())
    n_codes = int(pdf["code"].max()) + 1
    lut = np.zeros((len(q_ids), _PQ_SUBS, n_codes))
    qpos = np.searchsorted(q_ids, pdf["vec_id"].to_numpy())
    lut[qpos, pdf["s"].to_numpy(), pdf["code"].to_numpy()] = pdf[
        "dot"
    ].to_numpy()
    return spark.sparkContext.broadcast((q_ids, lut))


@register("knn_pq_topk", oracle=_PQ_ORACLE)
def knn_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: the embedding splits into {_PQ_SUBS}
    subspaces of {_PQ_SUBDIM} dims; per subspace the label centroids act
    as a 10-entry codebook (pretrained coarse codebook, like
    ``knn_ivf_topk``); each corpus vector stores only its per-subspace
    code ids (4 bytes vs 256 — the PQ memory win), and queries score by
    ASYMMETRIC DISTANCE: exact query subvector · assigned centroid,
    summed over subspaces. Completes the ANN family: LSH (random
    projection), IVF (coarse partition), int8 (scalar quantization), PQ
    (vector quantization).

    Determinism/oracle: code assignment ranks round(dot - |c|²/2, 6)
    (the argmin-L2 equivalent) on a 6-dp lattice with code-id tie-break,
    and ADC sims rank pre-rounded — the same data-derived-codebook
    recipe as IVF, so the whole approximate pipeline hash-checks.

    Scale posture (100 TB): codebooks are {_PQ_SUBS}x10x{_PQ_SUBDIM}
    constants (broadcast); encoding is one scan; the search touches only
    (n_id, s, code) — 4 small ints per corpus vector instead of the
    vector itself, the entire point of PQ — and the per-query LUT join
    replaces any vector math at query time.
    """
    scored = _pq_scored(spark, sf_dir)
    w_code = Window.partitionBy("vec_id", "s").orderBy(
        F.col("score").desc(), F.col("code").asc()
    )
    codes = scored.withColumn("r", F.row_number().over(w_code))
    corpus_codes = codes.filter(F.col("r") == 1).select(
        F.col("vec_id").alias("n_id"), "s", "code"
    )
    # r13 (VERDICT r12 task 5): ADC scoring as a LUT kernel. The previous
    # shape joined the corpus codes against a broadcast of EVERY
    # (query, subspace, code) dot — |corpus| x subs x nq joined rows
    # collapsing through a (q_id, n_id) groupBy into an nq x |corpus|
    # sim table that then fed the window raw. Now the per-query LUT rides
    # in as a memoized broadcast; each Arrow batch of per-vector code
    # rows computes the ADC sum by direct LUT indexing (s ascending — a
    # fixed summation order; the old hash-agg order was partition-
    # dependent, and both sit on the round-6 lattice the oracle already
    # absorbs) and emits only rows within 1e-6 of its block-local k-th
    # score: round(x, 6) can only reach round(kth, 6) if x > kth - 1e-6,
    # so every possible global top-k row (rounded-desc, n_id-asc order)
    # survives the cut and the window sees a candidate set bounded by
    # ~k x nq x n_blocks instead of nq x |corpus|.
    lut_bq = _pq_query_lut(spark, sf_dir)

    def adc_topk(batches):
        q_ids, lut = lut_bq.value  # lut: nq x subs x codes
        nq = len(q_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["n_id"].to_numpy()
            code_mat = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            nb = len(ids)
            acc = np.zeros((nb, nq))
            for s in range(_PQ_SUBS):  # fixed ascending subspace order
                acc += lut[:, s, code_mat[:, s]].T
            out_q, out_n, out_s = [], [], []
            for j in range(nq):
                col = np.where(ids == q_ids[j], -np.inf, acc[:, j])
                fin = np.nonzero(np.isfinite(col))[0]
                if len(fin) > TOP_K:
                    kth = np.partition(col[fin], len(fin) - TOP_K)[
                        len(fin) - TOP_K
                    ]
                    fin = fin[col[fin] >= kth - 1e-6]
                out_q.append(np.full(len(fin), q_ids[j]))
                out_n.append(ids[fin])
                out_s.append(col[fin])
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "n_id": np.concatenate(out_n),
                    "sim_raw": np.concatenate(out_s),
                }
            )

    codes4 = (
        corpus_codes.groupBy("n_id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "code"))).alias("sc"))
        .select("n_id", F.transform("sc", lambda x: x["code"]).alias("codes"))
    )
    sims = codes4.mapInPandas(
        adc_topk, schema="q_id long, n_id long, sim_raw double"
    ).select("q_id", "n_id", F.round("sim_raw", 6).alias("sim"))
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", "sim", "rn")
    )


@register(
    "emb_centroid_drift",
    oracle="""
WITH x AS (
    SELECT vec_id, label, vec_id % 2 = 0 AS in_a,
           unnest(generate_series(1, len(embedding))) AS dim,
           unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val
    FROM embeddings
), cent AS (
    SELECT label, dim,
           avg(CASE WHEN in_a THEN val END)     AS ca,
           avg(CASE WHEN NOT in_a THEN val END) AS cb
    FROM x GROUP BY label, dim
), sums AS (
    SELECT label,
           sum(ca * cb)                    AS dot,
           sqrt(sum(ca * ca))              AS norm_a,
           sqrt(sum(cb * cb))              AS norm_b,
           sum((ca - cb) * (ca - cb))      AS sqdist
    FROM cent GROUP BY label
), n AS (
    SELECT label,
           CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_a,
           CAST(count(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n_b
    FROM embeddings GROUP BY label
)
SELECT n.label, n.n_a, n.n_b,
       round(s.dot / (s.norm_a * s.norm_b), 6) AS cos_ab,
       round(sqrt(s.sqdist), 6)                AS l2_dist
FROM n JOIN sums s ON n.label = s.label
""",
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: split the corpus into two
    shards (vec_id parity — a stand-in for yesterday/today snapshots),
    compute each label's per-shard centroid, and report centroid cosine
    + L2 distance per label. Dropping cos_ab is the standard alarm for
    upstream encoder/data drift before a training run.

    Both shard centroids come out of ONE aggregate over the exploded
    (label, dim) grid (conditional avg per shard — no second scan, no
    join of two half-corpus aggregates); the label-level reduction is
    |labels| x dim rows. cos/L2 are irrational doubles — round(6) is
    hash-safe (same argument as label_purity).
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2 == 0).alias("in_a"),
        F.posexplode("embedding").alias("dim", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    cent = x.groupBy("label", "dim").agg(
        F.avg(F.when(F.col("in_a"), F.col("val"))).alias("ca"),
        F.avg(F.when(~F.col("in_a"), F.col("val"))).alias("cb"),
    )
    sums = cent.groupBy("label").agg(
        F.sum(F.col("ca") * F.col("cb")).alias("dot"),
        F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("norm_a"),
        F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("norm_b"),
        F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).alias("sqdist"),
    )
    n = e.groupBy("label").agg(
        F.count(F.when(F.col("vec_id") % 2 == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("vec_id") % 2 != 0, 1)).alias("n_b"),
    )
    return n.join(sums, "label").select(
        "label",
        "n_a",
        "n_b",
        F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 6).alias("cos_ab"),
        F.round(F.sqrt("sqdist"), 6).alias("l2_dist"),
    )


# --------------------------------------------------------------------------
# Retrieval evaluation metrics (system = LSH ANN, truth = exact kNN)
# --------------------------------------------------------------------------

# IDCG@5 for binary relevance: computed ONCE in Python and embedded as
# the same double literal in both engines (summation order fixed).
_IDCG_AT_K = sum(1.0 / math.log2(r + 1) for r in range(1, TOP_K + 1))


def _eval_metrics_oracle() -> str:
    from bangdatapipeline_spark.registry import REGISTRY

    return f"""
WITH sys AS ({REGISTRY["knn_ann_lsh"].oracle}),
truth AS ({REGISTRY["knn_cosine_topk"].oracle}),
j AS (
  SELECT s.q_id, s.rn,
         CASE WHEN t.n_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM sys s LEFT JOIN truth t ON s.q_id = t.q_id AND s.n_id = t.n_id
),
m AS (
  SELECT q_id,
         sum(rel)                                             AS hits,
         min(CASE WHEN rel = 1 THEN rn END)                   AS first_rank,
         sum(CASE WHEN rel = 1 THEN 1.0 / log2(rn + 1) END)   AS dcg
  FROM j GROUP BY q_id
)
SELECT q_id,
       CAST(hits AS BIGINT)                          AS n_hits,
       round(hits * 1.0 / {TOP_K}, 4)                AS recall_at_k,
       round(coalesce(1.0 / first_rank, 0), 6)       AS mrr,
       round(coalesce(dcg, 0) / {_IDCG_AT_K!r}, 6)   AS ndcg
FROM m
"""


@register("eval_rank_metrics", oracle=_eval_metrics_oracle())
def eval_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation: per-query recall@{TOP_K}, MRR, and binary
    NDCG@{TOP_K} of the LSH ANN ranking (``knn_ann_lsh``) scored against
    the exact ranking (``knn_cosine_topk``) as ground truth — the metric
    harness every ANN rollout gates on (is the recall trade acceptable
    before swapping the exact path out?).

    Composes the two REGISTERED plans and joins them on (q_id, n_id) —
    per-query candidate sets are tiny (k rows), so everything after the
    rankers is a k-row-per-query join + one aggregate. IDCG is a shared
    double literal computed once (fixed summation order) so the NDCG
    denominators are bit-identical across engines.
    """
    # Both ranker outputs are k rows/query (tiny); .cache() pins them so the
    # join + aggregate below never re-derives the full ANN / exact-kNN
    # lineages (the r3 bench showed the composed plan recomputing both).
    sys_rank = knn_ann_lsh(spark, sf_dir).select("q_id", "n_id", "rn").cache()
    # truth via the GEMM twin — same oracle, identical rows as
    # knn_cosine_topk, without the per-pair Arrow fold pass (r12)
    truth = (
        knn_gemm_topk(spark, sf_dir)
        .select(F.col("q_id").alias("t_q"), F.col("n_id").alias("t_n"), F.lit(1).alias("rel"))
        .cache()
    )
    j = sys_rank.join(
        truth,
        (F.col("q_id") == F.col("t_q")) & (F.col("n_id") == F.col("t_n")),
        "left",
    ).select("q_id", "rn", F.coalesce("rel", F.lit(0)).alias("rel"))
    m = j.groupBy("q_id").agg(
        F.sum("rel").alias("hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("first_rank"),
        F.sum(
            F.when(F.col("rel") == 1, F.lit(1.0) / F.log2(F.col("rn") + 1))
        ).alias("dcg"),
    )
    return m.select(
        "q_id",
        F.col("hits").cast("bigint").alias("n_hits"),
        F.round(F.col("hits") * 1.0 / TOP_K, 4).alias("recall_at_k"),
        F.round(F.coalesce(F.lit(1.0) / F.col("first_rank"), F.lit(0.0)), 6).alias("mrr"),
        F.round(F.coalesce("dcg", F.lit(0.0)) / F.lit(_IDCG_AT_K), 6).alias("ndcg"),
    )


# --------------------------------------------------------------------------
# Top principal component via matrix-free power iteration
# --------------------------------------------------------------------------

_PCA_INIT = 0.125  # 1/sqrt(64) — exact in binary, identical on both engines


def _pca_oracle() -> str:
    x = """
x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
)"""
    return f"""
WITH {x},
s1 AS (SELECT vec_id, sum(val * {_PCA_INIT}) AS s FROM x GROUP BY vec_id),
w1 AS (SELECT x.dim, sum(s1.s * x.val) AS w FROM x JOIN s1 USING (vec_id) GROUP BY x.dim),
n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w1),
v1 AS (SELECT dim, round(w / nrm, 6) AS v FROM w1, n1),
s2 AS (SELECT x.vec_id, sum(x.val * v1.v) AS s FROM x JOIN v1 USING (dim) GROUP BY x.vec_id),
w2 AS (SELECT x.dim, sum(s2.s * x.val) AS w FROM x JOIN s2 USING (vec_id) GROUP BY x.dim),
n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM w2)
SELECT CAST(w2.dim AS INT) AS dim,
       round(w2.w / n2.nrm, 6) AS loading
FROM w2, n2
"""


@register("emb_pca_power", oracle=_pca_oracle())
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via MATRIX-FREE
    power iteration (two rounds): v ← normalize(Xᵀ(Xv)) — the
    visualization/drift primitive that never materializes the d x d
    covariance, just two passes of per-row projections.

    Per round: the current direction is a 1-row broadcast array and each
    partition contributes ONE {EMB_DIM}-value partial XᵀXv computed in a
    single Arrow/BLAS pass (mapInPandas) — no per-element explode, and
    the only shuffle is {EMB_DIM} doubles per partition per round. The
    direction is re-rounded to the 6-dp lattice between rounds on BOTH
    engines, so round-2 inputs are identical despite summation-order ulp
    noise in the corpus sums (the IVF codebook-lattice recipe; BLAS
    reassociation lands on the same lattice point — the gemm_pairs_tiled
    precedent). Sign is pinned by the all-positive init. At 100 TB: two
    corpus scans, shuffle volume {EMB_DIM} doubles per partition per
    round.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    # r12 measured-and-rejected: spreading the embeddings projection so
    # the BLAS partials run multi-task (the §2.5 treatment) made warm
    # runs 1.05 -> 1.49 s med — the plan textually duplicates the
    # corpus-pass subtree (w feeds both the norm and the projection, and
    # round 2's lineage embeds round 1), so the added Exchange is paid
    # per duplicate while the 2k-row BLAS partial is already trivial per
    # pass. At real scale the duplication disappears behind ReusedExchange
    # and the spread would be a plain rebalance; at bench scale it is
    # pure overhead. Left on the raw scan.

    def _partials(batches):
        """Per-partition partial w = Σ_rows (x·v)·x, one BLAS pass."""
        acc = None
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            v = np.asarray(pdf["v"].iloc[0], dtype=np.float64)
            part = x.T @ (x @ v)
            acc = part if acc is None else acc + part
        if acc is not None:
            yield pd.DataFrame({"dim": np.arange(len(acc)), "w": acc})

    def corpus_w(v_row: DataFrame) -> DataFrame:
        """(dim, w) = XᵀXv via partition partials + a 64-key final sum."""
        j = e.crossJoin(F.broadcast(v_row)).select("embedding", "v")
        return (
            j.mapInPandas(_partials, schema="dim long, w double")
            .groupBy("dim")
            .agg(F.sum("w").alias("w"))
        )

    def power_round(v_row: DataFrame) -> DataFrame:
        """One iteration: normalize the corpus sums to the shared 6-dp
        lattice; returns a 1-row array DataFrame."""
        w = corpus_w(v_row)
        n = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        return (
            w.crossJoin(F.broadcast(n))
            .select("dim", F.round(F.col("w") / F.col("nrm"), 6).alias("v"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "v"))),
                    lambda t: t["v"],
                ).alias("v")
            )
        )

    v0 = e.limit(1).select(
        F.transform(F.col("embedding"), lambda _: F.lit(_PCA_INIT)).alias("v")
    )
    v1 = power_round(v0)
    # final round, long-form output (dim, loading)
    w = corpus_w(v1)
    n = w.agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    return (
        w.crossJoin(F.broadcast(n))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round(F.col("w") / F.col("nrm"), 6).alias("loading"),
        )
    )


# --------------------------------------------------------------------------
# MMR-diversified retrieval (greedy re-rank of the exact top candidates)
# --------------------------------------------------------------------------

_MMR_CAND = 10  # candidate pool per query (exact top-10)
_MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to picks


def _mmr_oracle() -> str:
    lam, one_m = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
),
allsims AS (
  SELECT q.q_id, e.vec_id AS n_id, e.embedding AS n_emb,
         round({_duck_dot('q.q_emb', 'e.embedding')}, 6) AS sim
  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.q_id
),
cand AS (
  SELECT * FROM (
    SELECT q_id, n_id, n_emb, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rn
    FROM allsims) WHERE rn <= {_MMR_CAND}
),
pair AS (
  SELECT a.q_id, a.n_id AS id_a, b.n_id AS id_b,
         round({_duck_dot('a.n_emb', 'b.n_emb')}, 6) AS sim_ab
  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.n_id <> b.n_id
),
p1 AS (SELECT q_id, n_id AS p_id, sim FROM cand WHERE rn = 1),
s2 AS (
  SELECT d.q_id, d.n_id, d.sim,
         {lam} * d.sim - {one_m} * pr.sim_ab AS score,
         row_number() OVER (PARTITION BY d.q_id
                            ORDER BY {lam} * d.sim - {one_m} * pr.sim_ab DESC,
                                     d.n_id ASC) AS rk
  FROM cand d
  JOIN p1 ON p1.q_id = d.q_id AND d.n_id <> p1.p_id
  JOIN pair pr ON pr.q_id = d.q_id AND pr.id_a = d.n_id AND pr.id_b = p1.p_id
),
p2 AS (SELECT q_id, n_id AS p_id, sim, score FROM s2 WHERE rk = 1),
s3 AS (
  SELECT d.q_id, d.n_id, d.sim,
         {lam} * d.sim
           - {one_m} * greatest(pa.sim_ab, pb.sim_ab) AS score,
         row_number() OVER (PARTITION BY d.q_id
                            ORDER BY {lam} * d.sim
                                     - {one_m} * greatest(pa.sim_ab, pb.sim_ab) DESC,
                                     d.n_id ASC) AS rk
  FROM cand d
  JOIN p1 ON p1.q_id = d.q_id AND d.n_id <> p1.p_id
  JOIN p2 ON p2.q_id = d.q_id AND d.n_id <> p2.p_id
  JOIN pair pa ON pa.q_id = d.q_id AND pa.id_a = d.n_id AND pa.id_b = p1.p_id
  JOIN pair pb ON pb.q_id = d.q_id AND pb.id_a = d.n_id AND pb.id_b = p2.p_id
),
p3 AS (SELECT q_id, n_id AS p_id, sim, score FROM s3 WHERE rk = 1)
SELECT q_id, 1 AS pick_rank, p_id AS n_id, sim,
       floor({lam} * sim * 1000000 + 0.5) / 1000000 AS mmr_score
FROM p1
UNION ALL
SELECT q_id, 2, p_id, sim, floor(score * 1000000 + 0.5) / 1000000 FROM p2
UNION ALL
SELECT q_id, 3, p_id, sim, floor(score * 1000000 + 0.5) / 1000000 FROM p3
"""


@register("knn_mmr_diversify", oracle=_mmr_oracle())
def knn_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: greedily pick 3 of the exact top-10
    candidates per query, each pick maximizing
    λ·sim(q,d) − (1−λ)·max_sim(d, already-picked) — the diversified
    re-rank RAG retrievers run so near-duplicate passages don't crowd
    the context window.

    Greedy selection is inherently sequential, so the 3 rounds unroll as
    3 window-argmax passes (like the k-means/PageRank unrolling); all
    work after the candidate stage is on k rows per query (candidates
    and their k² pairwise sims — computed once, joined per round).
    Scores combine round-6 sims with identical double literals, so both
    engines rank bit-identical values; emitted scores use the IEEE
    floor-round (the 1e-7 score lattice CAN sit on 6-dp halves,
    docs/dialect_notes.md).
    """
    lam, one_m = _MMR_LAMBDA, 1 - _MMR_LAMBDA
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # r12: spread the corpus side before the broadcast pair pass — the
    # single-row-group scan otherwise fuses the |corpus| x |Q| dot folds
    # and the candidate window's input into ONE task (guide §2.5). A
    # GEMM-kernel rewrite was measured SLOWER here: the corpus is tiny
    # (2 000 rows at sf0.1), so the kernel's per-run Python-boundary cost
    # (query-side toPandas + fresh mapInPandas lineage that defeats the
    # declared cache's plan-canonicalization reuse) exceeds the whole
    # JVM pair pass. The BNLJ stays: it is the declared exact candidate
    # semantics, the broadcast side is the <=100-row query set, and at
    # scale the corpus side streams.
    allsims = (
        spread(e.select("vec_id", "embedding"), "vec_id")
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.col("embedding").alias("n_emb"),
            F.round(dot_double_vec(F.col("q_emb"), F.col("embedding")), 6).alias("sim"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    # cand is _MMR_CAND rows/query (tiny) but feeds FIVE consumers (a, b, d,
    # p1 and the per-round joins); without a pin each consumer re-derives the
    # broadcast-crossJoin + window lineage — this was the slowest query in
    # the r3 bench (3.15 s). .cache() computes it once.
    cand = (
        allsims.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MMR_CAND)
        .cache()
    )
    a = cand.select("q_id", F.col("n_id").alias("id_a"), F.col("n_emb").alias("emb_a"))
    b = cand.select("q_id", F.col("n_id").alias("id_b"), F.col("n_emb").alias("emb_b"))
    # pair is k² rows/query and feeds the s2 scoring plus both per-pick
    # renames (pa, pb) — pin it for the same single-computation reason.
    pair = (
        a.join(F.broadcast(b), "q_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "q_id",
            "id_a",
            "id_b",
            F.round(dot_double_vec(F.col("emb_a"), F.col("emb_b")), 6).alias("sim_ab"),
        )
        .cache()
    )
    d = cand.select("q_id", "n_id", "sim")
    p1 = cand.filter(F.col("rn") == 1).select(
        "q_id", F.col("n_id").alias("p_id"), F.col("sim").alias("p_sim")
    )

    def argmax(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("q_id").orderBy(
            F.col("score").desc(), F.col("n_id").asc()
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("q_id", F.col("n_id").alias("p_id"), "sim", "score")
        )

    # r12: every post-candidate join side is constant-bounded (p1/p2 are
    # one row per query, pair is k² rows per query, k and |Q| fixed), but
    # the planner saw unknown-size cached subtrees and picked
    # SortMergeJoin — 7 sort+exchange pairs of sub-10k-row tables
    # dominated the steady state. Explicit broadcasts (guide §3.1: hint
    # when estimates are wrong) collapse the cascade to hash joins.
    s2 = (
        d.join(F.broadcast(p1), "q_id")
        .filter(F.col("n_id") != F.col("p_id"))
        .join(
            F.broadcast(
                pair.withColumnRenamed("id_a", "n_id").withColumnRenamed(
                    "id_b", "p_id"
                )
            ),
            ["q_id", "n_id", "p_id"],
        )
        .select(
            "q_id",
            "n_id",
            "sim",
            (F.lit(lam) * F.col("sim") - F.lit(one_m) * F.col("sim_ab")).alias("score"),
        )
    )
    p2 = argmax(s2)
    pa = pair.select(
        "q_id", F.col("id_a").alias("n_id"), F.col("id_b").alias("p1_id"),
        F.col("sim_ab").alias("sim_d1"),
    )
    pb = pair.select(
        "q_id", F.col("id_a").alias("n_id"), F.col("id_b").alias("p2_id"),
        F.col("sim_ab").alias("sim_d2"),
    )
    s3 = (
        d.join(F.broadcast(p1.select("q_id", F.col("p_id").alias("p1_id"))), "q_id")
        .join(F.broadcast(p2.select("q_id", F.col("p_id").alias("p2_id"))), "q_id")
        .filter((F.col("n_id") != F.col("p1_id")) & (F.col("n_id") != F.col("p2_id")))
        .join(F.broadcast(pa), ["q_id", "n_id", "p1_id"])
        .join(F.broadcast(pb), ["q_id", "n_id", "p2_id"])
        .select(
            "q_id",
            "n_id",
            "sim",
            (
                F.lit(lam) * F.col("sim")
                - F.lit(one_m) * F.greatest("sim_d1", "sim_d2")
            ).alias("score"),
        )
    )
    p3 = argmax(s3)

    def emit(p: DataFrame, rank: int) -> DataFrame:
        return p.select(
            "q_id",
            F.lit(rank).alias("pick_rank"),
            F.col("p_id").alias("n_id"),
            "sim",
            (F.floor(F.col("score") * 1000000 + 0.5) / 1000000).alias("mmr_score"),
        )

    out1 = p1.select(
        "q_id",
        F.lit(1).alias("pick_rank"),
        F.col("p_id").alias("n_id"),
        F.col("p_sim").alias("sim"),
        (F.floor(F.lit(lam) * F.col("p_sim") * 1000000 + 0.5) / 1000000).alias(
            "mmr_score"
        ),
    )
    out2 = emit(p2, 2)
    out3 = emit(p3, 3)
    return out1.unionAll(out2).unionAll(out3)


# --------------------------------------------------------------------------
# Matryoshka (truncated-dimension) retrieval quality
# --------------------------------------------------------------------------

_MRL_DIM = 16  # prefix dims used by the cheap ranking


def _duck_dot_n(a: str, b: str, n: int) -> str:
    """Deterministic left-to-right fold dot over the first n dims."""
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


@register(
    "knn_matryoshka_topk",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb
    FROM embeddings WHERE vec_id < {N_QUERIES}
), pairs AS (
    SELECT q.q_id, e.vec_id AS n_id,
           {_duck_dot('q.q_emb', 'e.embedding')} AS simf,
           {_duck_dot_n('q.q_emb', 'e.embedding', _MRL_DIM)}
             / (sqrt({_duck_dot_n('q.q_emb', 'q.q_emb', _MRL_DIM)})
                * sqrt({_duck_dot_n('e.embedding', 'e.embedding', _MRL_DIM)})) AS simp
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id
), r AS (
    SELECT q_id, n_id, simp, simf,
           row_number() OVER (PARTITION BY q_id ORDER BY simp DESC, n_id ASC) AS rnp,
           row_number() OVER (PARTITION BY q_id ORDER BY simf DESC, n_id ASC) AS rnf
    FROM pairs
)
SELECT q_id, n_id, round(simp, 6) AS sim_prefix,
       CAST(rnp AS INT) AS rn, rnf <= {TOP_K} AS in_full_topk
FROM r WHERE rnp <= {TOP_K}
""",
)
def knn_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka retrieval: rank by cosine over the FIRST 16 dims only
    (prefix renormalized — truncation breaks unit norm), and flag whether
    each cheap-ranking hit is also in the full-dimension exact top-k.
    This is the truncated-embedding cost/quality trade every MRL-trained
    embedding deploy makes: 4x less dot-product work and 4x narrower
    shuffles, graded in-query against the exact ranking.

    Both similarities come out of ONE corpus pass through a dual-score
    block-GEMM kernel (r12 optimization — previously a broadcast
    nested-loop pair pass shipped every (query, corpus) pair's arrays
    through the per-pair Arrow fold UDF, then localCheckpointed the
    |Q| x |corpus| pair table for two window passes): each corpus block
    runs TWO numpy GEMMs (full 64-dim and renormalized 16-dim prefix),
    takes block-local top-{TOP_K} candidates under BOTH rankings at the
    1e-9 GEMM margin, re-scores exactly those candidates with the exact
    left-to-right fold (``knn_gemm_topk``'s boundary discipline — the
    emitted simf/simp are bit-identical to the previous fold
    expressions, including the simp division ``foldp / (q_pn * pn)``
    with sequentially-folded norms), and ships only the candidate union.
    The two rank-filtered windows then recover the exact global
    rankings: every true global top-k row under either score is inside
    its own block's top-k under that score, so candidate-set ranks equal
    true ranks for all surviving rows.

    Scale posture (100 TB): at billion-vector scale the prefix ranking is
    the candidate generator (16-dim GEMM tiles = 1/4 the FLOPs and I/O of
    full-dim) feeding a full-dim re-rank of candidates only — compose
    ``gemm_pairs_tiled`` on sliced arrays with ``knn_gemm_topk`` on the
    survivors. The in-query grading column is how that trade is tuned.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q_pdf = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas()
    )
    q_ids = q_pdf["vec_id"].to_numpy()
    qmat = np.vstack(q_pdf["embedding"].to_numpy()).astype(np.float64)  # nq x d
    qpref = qmat[:, :_MRL_DIM]

    def _fold_sq_norm(m):
        # sequential per-dim fold == dot_double_vec(pref, pref) order
        acc = np.zeros(m.shape[0])
        for d in range(m.shape[1]):
            acc += m[:, d] * m[:, d]
        return np.sqrt(acc)

    q_pn = _fold_sq_norm(qpref)
    bq = spark.sparkContext.broadcast((q_ids, qmat.T, qpref.T, q_pn))

    def block_dual_topk(batches):
        ids_q, qt, qpt, qpn = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            block = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            pref = block[:, :_MRL_DIM]
            pn = _fold_sq_norm(pref)
            gf = block @ qt                                  # full-dim GEMM
            gp = (pref @ qpt) / (qpn[None, :] * pn[:, None])  # prefix GEMM, normalized
            out = {k: [] for k in ("q_id", "n_id", "simf", "simp")}
            for j, qid in enumerate(ids_q):
                self_mask = ids == qid
                colf = np.where(self_mask, -np.inf, gf[:, j])
                colp = np.where(self_mask, -np.inf, gp[:, j])
                idx = np.nonzero(~self_mask)[0]
                if len(idx) > TOP_K:
                    kf = np.partition(colf[idx], len(idx) - TOP_K)[len(idx) - TOP_K]
                    kp = np.partition(colp[idx], len(idx) - TOP_K)[len(idx) - TOP_K]
                    idx = idx[
                        (colf[idx] >= kf - 1e-9) | (colp[idx] >= kp - 1e-9)
                    ]
                if not len(idx):
                    continue
                # exact fold-order re-score of the candidate union
                foldf = np.add.accumulate(
                    block[idx] * qt[:, j][None, :], axis=1
                )[:, -1]
                foldp = np.add.accumulate(
                    pref[idx] * qpt[:, j][None, :], axis=1
                )[:, -1]
                simp = foldp / (qpn[j] * pn[idx])
                keep_f = np.lexsort((ids[idx], -foldf))[:TOP_K]
                keep_p = np.lexsort((ids[idx], -simp))[:TOP_K]
                keep = np.unique(np.concatenate([keep_f, keep_p]))
                out["q_id"].append(np.full(len(keep), qid))
                out["n_id"].append(ids[idx[keep]])
                out["simf"].append(foldf[keep])
                out["simp"].append(simp[keep])
            if out["q_id"]:
                yield pd.DataFrame(
                    {k: np.concatenate(v) for k, v in out.items()}
                )

    pairs = e.select("vec_id", "embedding").mapInPandas(
        block_dual_topk, schema="q_id long, n_id long, simf double, simp double"
    )
    # lazy localCheckpoint so the bounded candidate table materializes once
    # and serves both window branches (same rationale/trade-off as before
    # this kernel existed: blocks are freed by the ContextCleaner when the
    # plan is garbage-collected; a cluster deployment under dynamic
    # allocation would use reliable checkpointing at this call site)
    pairs = pairs.localCheckpoint(eager=False)
    wp = Window.partitionBy("q_id").orderBy(F.col("simp").desc(), F.col("n_id").asc())
    wf = Window.partitionBy("q_id").orderBy(F.col("simf").desc(), F.col("n_id").asc())
    top_p = (
        pairs.withColumn("rnp", F.row_number().over(wp).cast("int"))
        .filter(F.col("rnp") <= TOP_K)
    )
    top_f = (
        pairs.withColumn("rnf", F.row_number().over(wf))
        .filter(F.col("rnf") <= TOP_K)
        .select("q_id", "n_id", F.lit(True).alias("in_f"))
    )
    return (
        top_p.join(top_f, ["q_id", "n_id"], "left")
        .select(
            "q_id",
            "n_id",
            F.round("simp", 6).alias("sim_prefix"),
            F.col("rnp").alias("rn"),
            F.coalesce("in_f", F.lit(False)).alias("in_full_topk"),
        )
    )


@register(
    "emb_knn_outlier",
    oracle=f"""
WITH q AS (
    SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
), sims AS (
    SELECT q.q_id, e.vec_id AS n_id,
           {_duck_dot('q.q_emb', 'e.embedding')} AS sim
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id
), nn AS (
    SELECT q_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rn
    FROM sims
), scored AS (
    SELECT q_id,
           CAST(sum(1000000 - CAST(floor(sim * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS dist_ppm
    FROM nn WHERE rn <= {TOP_K}
    GROUP BY q_id
)
SELECT q_id, dist_ppm,
       CAST(row_number() OVER (ORDER BY dist_ppm DESC, q_id ASC) AS INT) AS rk
FROM scored
""",
)
def emb_knn_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier scoring — the embedding-space curation filter
    that surfaces garbage/mislabeled/out-of-distribution documents: a
    vector whose k nearest neighbors are all FAR is isolated, so its
    summed top-k cosine distance ranks it as an outlier (the kNN-dist
    member of the LOF family; the full LOF ratio adds one more
    self-join over these same pairs).

    Runs on the shared block-GEMM candidate kernel
    (:func:`_gemm_topk_candidates` — r12 optimization: the previous
    broadcast-crossJoin form shipped all |Q| x |corpus| pairs through
    the per-pair Arrow fold UDF; now the corpus streams once and only
    block-local top-{TOP_K} candidates shuffle). The score is the SUM
    of the top-{TOP_K} distances in exact ppm integers — candidate sims
    are exact left-to-right fold doubles (the kernel's boundary
    discipline), floor-latticed to ppm BEFORE summing, so the ranking
    key is an exact integer and the global ordering cannot split on
    accumulation order. At 100 TB the pair generation swaps to the
    LSH/IVF candidate paths (same machinery as knn_ann_lsh) and the
    scoring agg is unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    sims = _gemm_topk_candidates(spark, e, sf_dir)
    wnn = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    scored = (
        sims.withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") <= TOP_K)
        .groupBy("q_id")
        .agg(
            F.sum(
                F.lit(1000000)
                - F.floor(F.col("sim") * 1000000 + 0.5).cast("bigint")
            ).alias("dist_ppm")
        )
    )
    wrk = Window.orderBy(F.col("dist_ppm").desc(), F.col("q_id").asc())
    return scored.withColumn("rk", F.row_number().over(wrk).cast("int"))


@register(
    "emb_dim_stats",
    oracle="""
WITH x AS (
  SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
  FROM embeddings
), v AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val FROM x
)
SELECT CAST(dim AS INT)              AS dim,
       CAST(count(*) AS BIGINT)      AS n,
       round(avg(val), 6)            AS mean,
       round(stddev_samp(val), 6)    AS sd,
       round(min(val), 6)            AS lo,
       round(max(val), 6)            AS hi
FROM v GROUP BY dim
""",
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics of the embedding column — the
    normalization/whitening input (feature-wise mean/std for centering,
    degenerate-dimension detection before PCA/IVF training).

    posexplode keys the aggregation on dimension index: a BOUNDED key
    space (|dims|), so the big value stream partial-aggregates map-side
    to |dims| state rows per task and the shuffle is |tasks| x |dims|
    tiny rows regardless of corpus size — the correct 100 TB shape for
    any per-feature statistic. Same float policy as ``label_purity``:
    synthetic-margin-safe round-6 on the aggregate outputs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        F.col("dim").cast("int").alias("dim"), F.col("val").cast("double").alias("val")
    )
    return v.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("val"), 6).alias("mean"),
        F.round(F.stddev_samp("val"), 6).alias("sd"),
        F.round(F.min("val"), 6).alias("lo"),
        F.round(F.max("val"), 6).alias("hi"),
    )


@register(
    "emb_whitening",
    oracle="""
WITH x AS (
  SELECT unnest(generate_series(1, len(embedding))) AS i, embedding
  FROM embeddings
), v AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val FROM x
), s AS (
  SELECT dim, avg(val) AS mu, stddev_samp(val) AS sd FROM v GROUP BY dim
), z AS (
  SELECT v.dim, (v.val - s.mu) / s.sd AS z FROM v JOIN s USING (dim)
)
SELECT CAST(dim AS INT)               AS dim,
       CAST(count(*) AS BIGINT)       AS n,
       round(avg(z), 6) + 0.0         AS mean_w,
       round(stddev_samp(z), 6) + 0.0 AS sd_w,
       round(min(z), 6) + 0.0         AS lo_w,
       round(max(z), 6) + 0.0         AS hi_w
FROM z GROUP BY dim
""",
)
def emb_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension whitening (feature standardization) of the embedding
    column — the normalization step before PCA/IVF codebook training —
    verified by re-running the dim-stats audit over the WHITENED values:
    every dimension must come back mean 0, sd 1 (the whitening
    postcondition), with the data-dependent lo/hi carrying the actual
    distribution shape so the check is not vacuous.

    Consumes the ``emb_dim_stats`` aggregate shape: one posexplode pass
    reduces to |dims| (mu, sd) rows (map-side combine, tiny shuffle),
    broadcast back onto the value stream for the standardize projection,
    then the same bounded-key re-aggregation — two scans, both shuffles
    bounded by |dims| x |tasks|, no UDF anywhere. At 100 TB the stats
    pass amortizes across every consumer (stored as a tiny side table)
    and the whitening itself stays a scan-stage projection. Float
    policy: round-6 on aggregate outputs (same as emb_dim_stats); the
    ``+ 0.0`` normalizes IEEE -0.0 so both engines print the mean-zero
    rows identically.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(F.posexplode("embedding").alias("dim", "val")).select(
        F.col("dim").cast("int").alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    s = v.groupBy("dim").agg(
        F.avg("val").alias("mu"), F.stddev_samp("val").alias("sd")
    )
    z = v.join(F.broadcast(s), "dim").select(
        "dim", ((F.col("val") - F.col("mu")) / F.col("sd")).alias("z")
    )
    return z.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.avg("z"), 6) + F.lit(0.0)).alias("mean_w"),
        (F.round(F.stddev_samp("z"), 6) + F.lit(0.0)).alias("sd_w"),
        (F.round(F.min("z"), 6) + F.lit(0.0)).alias("lo_w"),
        (F.round(F.max("z"), 6) + F.lit(0.0)).alias("hi_w"),
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data preparation)
# --------------------------------------------------------------------------

_HN_ORACLE = f"""
WITH q AS (
    SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
    FROM embeddings WHERE vec_id < {N_QUERIES}
), sims AS (
    SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
           {_duck_dot('q.q_emb', 'e.embedding')} AS sim
    FROM q CROSS JOIN embeddings e
    WHERE e.vec_id <> q.q_id AND e.label <> q.q_label
)
SELECT q_id, q_label, n_id, n_label, round(sim, 6) AS sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM sims
QUALIFY rn <= {TOP_K}
"""


@register("sample_hard_negatives", oracle=_HN_ORACLE)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    (the bounded query set), the TOP_K most-similar vectors with a
    DIFFERENT label — the negatives nearest the decision boundary, which
    are the ones that actually move an embedding model. This is the data
    prep step behind triplet / InfoNCE training sets; easy negatives
    (random different-label picks) teach nothing.

    Runs on the shared block-GEMM candidate kernel with the
    label-inequality predicate as the block mask
    (:func:`_gemm_topk_candidates` with ``label_mask=True`` — exactly
    the "label filter in the block mask" posture this docstring used to
    defer to 100 TB; r12 made it the executed plan: the corpus streams
    once, same-label rows never produce a candidate, and only
    block-local top-{TOP_K} candidates with exact fold-order sims ever
    shuffle, replacing the broadcast-crossJoin pair pass through the
    per-pair Arrow fold UDF).
    """
    e = load_table(spark, sf_dir, "embeddings")
    sims = _gemm_topk_candidates(spark, e, sf_dir, label_mask=True)
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "q_label", "n_id", "n_label", F.round("sim", 6).alias("sim"), "rn")
    )


# --------------------------------------------------------------------------
# IVF nprobe tuning curve (the ANN quality/cost tradeoff, measured)
# --------------------------------------------------------------------------

_CURVE_PROBES = [1, 2, 3]


def _ivf_curve_oracle() -> str:
    return f"""
WITH x AS (
  SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
cent AS (
  SELECT e.label AS cell, i - 1 AS dim, avg(CAST(e.embedding[i] AS DOUBLE)) AS c
  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS g(i)
  GROUP BY 1, 2
),
cn AS (SELECT cell, sqrt(sum(c * c)) AS cnorm FROM cent GROUP BY 1),
dots AS (
  SELECT x.vec_id, ct.cell, sum(x.val * ct.c) AS dot
  FROM x JOIN cent ct USING (dim) GROUP BY 1, 2
),
sc AS (SELECT d.vec_id, d.cell, round(d.dot / cn.cnorm, 6) AS score
       FROM dots d JOIN cn USING (cell)),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell ASC) AS cr
  FROM sc
),
corpus_cells AS (SELECT vec_id AS n_id, cell FROM ranked WHERE cr = 1),
probes AS (SELECT vec_id AS q_id, cell, cr FROM ranked
           WHERE cr <= {max(_CURVE_PROBES)} AND vec_id < {N_QUERIES}),
cand AS (
  SELECT p.q_id, c.n_id, CAST(min(p.cr) AS INT) AS min_cr
  FROM probes p JOIN corpus_cells c USING (cell)
  WHERE p.q_id <> c.n_id
  GROUP BY 1, 2
),
sims AS (
  SELECT c.q_id, c.n_id, c.min_cr, {_duck_dot('a.embedding', 'b.embedding')} AS sim
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.q_id
  JOIN embeddings b ON b.vec_id = c.n_id
),
cfg AS (SELECT unnest({_CURVE_PROBES}) AS nprobe),
per AS (
  SELECT g.nprobe, s.q_id, s.n_id,
         row_number() OVER (PARTITION BY g.nprobe, s.q_id
                            ORDER BY s.sim DESC, s.n_id ASC) AS rn
  FROM cfg g JOIN sims s ON s.min_cr <= g.nprobe
),
exact AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_duck_dot('a.embedding', 'b.embedding')} DESC,
                                     b.vec_id ASC) AS rn
  FROM embeddings a JOIN embeddings b ON a.vec_id < {N_QUERIES}
                                     AND b.vec_id <> a.vec_id
),
hits AS (
  SELECT p.nprobe,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM per p JOIN exact e ON e.q_id = p.q_id AND e.n_id = p.n_id
                          AND e.rn <= {TOP_K}
  WHERE p.rn <= {TOP_K}
  GROUP BY 1
),
vol AS (
  SELECT g.nprobe, CAST(count(*) AS BIGINT) AS n_cand
  FROM cfg g JOIN sims s ON s.min_cr <= g.nprobe GROUP BY 1
)
SELECT v.nprobe, v.n_cand, h.n_hits,
       (h.n_hits * 1000000) // ({N_QUERIES} * {TOP_K}) AS recall_ppm
FROM vol v JOIN hits h USING (nprobe)
"""


@register("eval_ivf_nprobe_curve", oracle=_ivf_curve_oracle())
def eval_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN tuning curve, measured: for nprobe in {1,2,3}, the IVF
    candidate volume (cost) and recall@{TOP_K} vs the exact ranker
    (quality) — the table an operator reads before picking an operating
    point; recall rises with nprobe while candidates (and scan cost)
    grow ~linearly.

    Computed in ONE pass: each candidate pair carries min_cr (the
    smallest probe rank connecting query to the neighbor's cell), so
    "the candidate set at nprobe=n" is just ``min_cr <= n`` — the sims
    are computed once on the widest set and each config re-windows the
    same table (3-row config spine joined in, not 3 pipeline reruns).
    Recall joins against the exact top-{TOP_K}; all ratios integer ppm.
    SAME cell assignment as knn_ivf_topk — literally ``_ivf_ranked``,
    one definition (r10 review: the curve must grade the index the
    ranker deploys; a duplicated assignment stage could drift) — so the
    curve is engine-exact despite the data-derived codebook.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ranked = _ivf_ranked(e)
    corpus_cells = ranked.filter(F.col("cr") == 1).select(
        F.col("vec_id").alias("n_id"), "cell"
    )
    probes = ranked.filter(
        (F.col("cr") <= max(_CURVE_PROBES)) & (F.col("vec_id") < N_QUERIES)
    ).select(F.col("vec_id").alias("q_id"), "cell", "cr")
    cand = (
        probes.join(corpus_cells, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.min("cr").cast("int").alias("min_cr"))
    )
    # r13 (VERDICT r12 task 5): sims via the shared fold kernel (one n_id
    # join, queries from the memoized broadcast, no per-pair Arrow fold).
    # No block-topk pruning here: `vol` counts EVERY candidate pair, so
    # the full sim table is the semantic unit being cached. min_cr rides
    # through the kernel.
    sims = _fold_rerank_candidates(
        spark, e, cand, sf_dir, extra="min_cr int"
    ).cache()  # three config windows + the volume count read it
    cfg = spark.createDataFrame([(n,) for n in _CURVE_PROBES], "nprobe int")
    per = (
        sims.join(F.broadcast(cfg), sims.min_cr <= cfg.nprobe)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nprobe", "q_id").orderBy(
                    F.col("sim").desc(), F.col("n_id").asc()
                )
            ),
        )
    )
    # exact ranking via the GEMM twin — same oracle, identical rows as
    # knn_cosine_topk, without the per-pair Arrow fold pass (r12)
    exact = REGISTRY["knn_gemm_topk"].fn(spark, sf_dir).select(
        "q_id", "n_id"
    )
    hits = (
        per.filter(F.col("rn") <= TOP_K)
        .join(exact, ["q_id", "n_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    vol = (
        sims.join(F.broadcast(cfg), sims.min_cr <= cfg.nprobe)
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    return vol.join(hits, "nprobe").select(
        "nprobe",
        "n_cand",
        "n_hits",
        F.expr(f"n_hits * 1000000 div ({N_QUERIES} * {TOP_K})").alias(
            "recall_ppm"
        ),
    )


# --------------------------------------------------------------------------
# Int8 quantization error audit
# --------------------------------------------------------------------------

@register(
    "emb_quantize_error",
    oracle="""
WITH v AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
),
e AS (
  SELECT vec_id, label, scale,
         list_transform(embedding,
           x -> CAST(x AS DOUBLE)
                - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale) AS err,
         list_max(list_transform(embedding,
           x -> abs(floor(CAST(x AS DOUBLE) / scale + 0.5))))     AS maxq
  FROM v WHERE scale > 0
)
SELECT vec_id, label,
       CAST(floor(scale * 1000000000.0 + 0.5) AS BIGINT) AS scale_e9,
       CAST(floor(list_reduce(
              list_transform(generate_series(1, len(err)), i -> err[i] * err[i]),
              (x, y) -> x + y) * 1000000000.0 + 0.5) AS BIGINT) AS sse_e9,
       CAST(maxq AS INT) AS max_q
FROM e
""",
)
def emb_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization error audit — the go/no-go check
    before shipping a quantized ANN index: symmetric per-vector scaling
    (scale = max|x| / 127), round-to-nearest integer codes, and the
    reconstruction SSE against the float original, plus the max |code|
    as a clamp-range sanity column.

    Cross-engine exactness without a fold-order lattice: max|x| is an
    order-independent exact reduction, scale/codes/error terms are
    per-element scalar double expressions (identical IEEE ops both
    engines — floor(x/scale + 0.5) is the shared round-half-up), and the
    SSE reuses the Arrow ``dot_double_vec`` kernel whose sequential
    per-dim fold is bit-identical to DuckDB's list_reduce. Identical
    input bits -> identical doubles -> the 1e-9 integer publication
    lattice is a formatting choice, not a tolerance. One scan-stage
    projection per vector, no shuffle at all — the 100 TB plan is
    embarrassingly parallel and column-pruned to (vec_id, label,
    embedding).
    """
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    v = e.select(
        "vec_id",
        "label",
        dbl.alias("x"),
        (F.array_max(F.transform(dbl, F.abs)) / F.lit(127.0)).alias("scale"),
    ).filter(F.col("scale") > 0)
    scale = F.col("scale")
    err = F.transform(
        F.col("x"), lambda x: x - F.floor(x / scale + 0.5) * scale
    )
    maxq = F.array_max(
        F.transform(F.col("x"), lambda x: F.abs(F.floor(x / scale + 0.5)))
    )
    w = v.select(
        "vec_id",
        "label",
        "scale",
        err.alias("err"),
        maxq.cast("int").alias("max_q"),
    )
    return w.select(
        "vec_id",
        "label",
        F.floor(scale * 1000000000.0 + F.lit(0.5)).cast("bigint").alias("scale_e9"),
        F.floor(
            dot_double_vec(F.col("err"), F.col("err")) * 1000000000.0 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("sse_e9"),
        "max_q",
    )


# --------------------------------------------------------------------------
# Two-stage retrieval: int8 coarse search + exact float rerank
# --------------------------------------------------------------------------

RERANK_POOL = 25  # stage-1 candidates per query, reranked exactly to TOP_K


@memo
def _rerank_query_broadcast(spark: SparkSession, sf_dir: str):
    """The int8 query-matrix broadcast of ``knn_rerank_two_stage``,
    memoized so repeated invocations in one session do not accumulate a
    fresh driver+executor broadcast per call."""
    e = load_table(spark, sf_dir, "embeddings")
    return _int8_query_broadcast(spark, _int8_quantized(e))


_RERANK_ORACLE = f"""
WITH {_duck_int8_cte()},
coarse AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         list_reduce(list_transform(generate_series(1, len(a.qv)),
                                    i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)
           / (a.scale * b.scale) AS csim
  FROM q8 a JOIN q8 b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
),
pool AS (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, n_id ASC) AS crn
  FROM coarse
  QUALIFY crn <= {RERANK_POOL}
),
exact AS (
  SELECT p.q_id, p.n_id,
         {_duck_dot('qe.embedding', 'ne.embedding')} AS sim
  FROM pool p
  JOIN embeddings qe ON qe.vec_id = p.q_id
  JOIN embeddings ne ON ne.vec_id = p.n_id
)
SELECT q_id, n_id, round(sim, 6) AS sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INT) AS rn
FROM exact
QUALIFY rn <= {TOP_K}
"""


@register("knn_rerank_two_stage", oracle=_RERANK_ORACLE)
def knn_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage serving pattern: a cheap INT8 coarse
    pass retrieves a {RERANK_POOL}-candidate pool per query, then the
    exact float kernel reranks ONLY the pool down to top-{TOP_K} — full
    precision where it matters, 4x-compressed integer SIMD everywhere
    else. Recall loss is confined to pool-boundary misses, which the
    oracle makes visible (it states the same two-stage pipeline, so the
    hash check certifies the IMPLEMENTATION, while eval_rank_metrics
    grades the family's recall against the exact baseline).

    Stage 1 is the quantized block-GEMM: the bounded query matrix
    broadcasts, each streamed Arrow corpus block does one exact int64
    matmul and emits only its block-local top-{RERANK_POOL}, so the only
    shuffled rows are candidates. Stage 2 joins the pool (queries x
    {RERANK_POOL} rows, tiny) back to the fp vectors and reranks with
    the bit-exact sequential-fold Arrow dot. At 100 TB the fp corpus is
    touched only by the pool join — a broadcast-hash probe on vec_id —
    which is exactly why serving stacks pay for two stages.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = _int8_quantized(e)
    bq = _rerank_query_broadcast(spark, sf_dir)
    pool_k = RERANK_POOL

    cand = q.mapInPandas(
        _int8_block_topk_gen(bq, pool_k, "csim"),
        schema="q_id long, n_id long, csim double",
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("csim").desc(), F.col("n_id").asc())
    pool = (
        cand.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= pool_k)
        .select("q_id", "n_id")
    )
    qe = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    ne = e.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb"))
    exact = (
        pool.join(F.broadcast(qe), "q_id")
        .join(ne, "n_id")
        .select(
            "q_id",
            "n_id",
            dot_double_vec(F.col("q_emb"), F.col("n_emb")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        exact.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
        .select("q_id", "n_id", F.round("sim", 6).alias("sim"), "rn")
    )


_RERANK_RECALL_ORACLE = f"""
WITH sims AS (
  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
         {_duck_dot('q.embedding', 'e.embedding')} AS sim
  FROM embeddings q JOIN embeddings e
    ON q.vec_id < {N_QUERIES} AND q.vec_id <> e.vec_id
),
truth AS (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rn
  FROM sims QUALIFY rn <= {TOP_K}
),
{_duck_int8_cte()},
coarse AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         list_reduce(list_transform(generate_series(1, len(a.qv)),
                                    i -> a.qv[i] * b.qv[i]), (x, y) -> x + y)
           / (a.scale * b.scale) AS csim
  FROM q8 a JOIN q8 b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id
),
pool AS (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY csim DESC, n_id ASC) AS crn
  FROM coarse QUALIFY crn <= {RERANK_POOL}
),
exact AS (
  SELECT p.q_id, p.n_id, {_duck_dot('qe.embedding', 'ne.embedding')} AS sim
  FROM pool p
  JOIN embeddings qe ON qe.vec_id = p.q_id
  JOIN embeddings ne ON ne.vec_id = p.n_id
),
sys AS (
  SELECT q_id, n_id,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS rn
  FROM exact QUALIFY rn <= {TOP_K}
),
per_q AS (
  SELECT t.q_id, CAST(count(s.n_id) AS BIGINT) AS hits
  FROM truth t LEFT JOIN sys s ON s.q_id = t.q_id AND s.n_id = t.n_id
  GROUP BY t.q_id
)
SELECT CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       CAST((sum(hits) * 1000000 + (count(*) * {TOP_K}) // 2)
            // (count(*) * {TOP_K}) AS BIGINT) AS recall_ppm,
       CAST(sum(CASE WHEN hits = {TOP_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
FROM per_q
"""


@register("eval_rerank_recall", oracle=_RERANK_RECALL_ORACLE)
def eval_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grades the two-stage retriever against the exact top-k: corpus
    recall@k of ``knn_rerank_two_stage`` vs ``knn_cosine_topk`` ground
    truth, plus the perfect-query count — the single number that decides
    whether the int8 coarse pool is wide enough to ship. Published on
    the exact integer ppm lattice (hit counts are integers; the ratio is
    pure BIGINT arithmetic).

    Composes the two REGISTERED plans; both emit k rows per query, so
    the grading join touches queries x k rows regardless of corpus size
    — the eval harness stays O(queries), the rankers own the heavy
    lifting (same scale posture as eval_rank_metrics).
    """
    # no .cache() here: each ranker appears exactly once in the DAG, so a
    # cache would only pin blocks without ever being re-read (memory
    # hygiene — repeated bench/correctness rounds share one session).
    # Ground truth comes from knn_gemm_topk — registered against the SAME
    # oracle as knn_cosine_topk (identical rows, hash-checked), but the
    # corpus streams through one GEMM per block instead of every pair
    # crossing the Arrow boundary (r12 optimization).
    truth = knn_gemm_topk(spark, sf_dir).select(
        F.col("q_id").alias("t_q"), F.col("n_id").alias("t_n")
    )
    sys_rank = knn_rerank_two_stage(spark, sf_dir).select("q_id", "n_id")
    per_q = (
        truth.join(
            sys_rank,
            (F.col("t_q") == F.col("q_id")) & (F.col("t_n") == F.col("n_id")),
            "left",
        )
        .groupBy("t_q")
        .agg(F.count("n_id").alias("hits"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("hits").alias("total_hits"),
        F.expr(
            f"(sum(hits) * 1000000 + (count(*) * {TOP_K}) DIV 2)"
            f" DIV (count(*) * {TOP_K})"
        ).alias("recall_ppm"),
        F.sum(F.when(F.col("hits") == TOP_K, 1).otherwise(0)).alias("n_perfect"),
    )


_SIM_HIST_BINS = 20  # histogram over [-1, 1], width 0.1


@register(
    "emb_sim_histogram",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
), sims AS (
  SELECT {_duck_dot('q.q_emb', 'e.embedding')} AS sim
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.q_id
)
SELECT CAST(least(greatest(floor((sim + 1.0) * 10), 0),
                  {_SIM_HIST_BINS - 1}) AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM sims GROUP BY 1
""",
)
def emb_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-similarity distribution audit: histogram of query-corpus
    cosine scores in {_SIM_HIST_BINS} fixed bins over [-1, 1] — the
    embedding-space health check run before trusting ANN structures on a
    new corpus (a distribution collapsing toward 1.0 signals degenerate
    embeddings / hubness; a healthy one is centered with thin tails, and
    the histogram also calibrates the dedup/decontamination thresholds
    the semantic family uses).

    Blocked-GEMM pair pass (r12 optimization — previously the broadcast
    crossJoin shipped every (query, corpus) pair's two arrays through
    the per-pair Arrow fold UDF): the query matrix is broadcast, each
    corpus block runs ONE numpy GEMM and bins its pairs locally, so
    only <= {_SIM_HIST_BINS} partial-count rows per Arrow batch ever
    leave Python and the one shuffle carries bin partials.

    Bin membership stays hash-exact under the same boundary discipline
    as ``knn_gemm_topk``: bins are floor((sim + 1.0) * 10) of the exact
    left-to-right fold value; the GEMM value differs from the fold by
    reassociation error (~1e-12 for unit 64-dots), so only pairs whose
    scaled GEMM score lands within 1e-6 of an integer bin edge can
    possibly bin differently — exactly those few pairs are re-scored
    with the sequential fold (the oracle's association order) and
    binned from the fold double with the identical IEEE expression.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    q_pdf = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .toPandas()
    )
    q_ids = q_pdf["vec_id"].to_numpy()
    qt = np.vstack(q_pdf["embedding"].to_numpy()).astype(np.float64).T  # d x nq
    bq = spark.sparkContext.broadcast((q_ids, qt))
    n_bins = _SIM_HIST_BINS

    def block_hist(batches):
        ids_q, qmat = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy()
            block = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            sims = block @ qmat  # n_block x nq — the GEMM
            scaled = (sims + 1.0) * 10
            # pairs whose scaled GEMM score sits within 1e-6 of an integer
            # edge: re-score with the exact sequential fold and rebin
            near = np.abs(scaled - np.rint(scaled)) < 1e-6
            for i, j in zip(*np.nonzero(near)):
                acc = 0.0
                qcol = qmat[:, j]
                row = block[i]
                for d in range(row.shape[0]):  # fold order == dot_double_vec
                    acc += row[d] * qcol[d]
                scaled[i, j] = (acc + 1.0) * 10
            bins = np.clip(np.floor(scaled), 0, n_bins - 1).astype(np.int64)
            # self-pairs (corpus row IS the query) are excluded by value
            keep = ids[:, None] != ids_q[None, :]
            counts = np.bincount(bins[keep], minlength=n_bins)
            nz = np.nonzero(counts)[0]
            yield pd.DataFrame({"bin": nz.astype(np.int32), "n": counts[nz]})

    partials = e.select("vec_id", "embedding").mapInPandas(
        block_hist, schema="bin int, n long"
    )
    return partials.groupBy("bin").agg(F.sum("n").alias("n"))


def _kmeans_quality_oracle() -> str:
    from bangdatapipeline_spark.registry import REGISTRY

    base = REGISTRY["ml_kmeans_2iter"].oracle
    return f"""
WITH base AS ({base}),
tot AS (SELECT count(*) AS n_total FROM base)
SELECT base.cluster,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * 1000000 // tot.n_total AS BIGINT) AS share_ppm,
       CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) AS BIGINT) AS inertia_e4,
       CAST(sum(CAST(round(d2 * 10000) AS BIGINT)) // count(*) AS BIGINT)
         AS mean_d2_e4
FROM base CROSS JOIN tot
GROUP BY base.cluster, tot.n_total
"""


@register("eval_kmeans_quality", oracle=_kmeans_quality_oracle())
def eval_kmeans_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality report over the deterministic k-means
    assignment (``ml_kmeans_2iter``): per cluster its size, corpus
    share, INERTIA (sum of squared distances to the centroid — the
    quantity Lloyd's algorithm minimizes and the k-selection elbow
    plots), and mean d² — the "is this clustering any good / is one
    cluster eating everything" eval that turns the assignment into a
    shippable artifact. Same eval posture as eval_semantic_recall:
    grade the model IN-QUERY, hash-checked.

    Float discipline: per-row d² is the registered op's 4-dp-rounded
    output (already hash-equal across engines), lifted onto the exact
    e4 integer lattice BEFORE summing — so the inertia total is an
    order-independent BIGINT sum, immune to float-summation ordering,
    and the mean is one integer division. Scale: composes the zero-
    shuffle assignment; the report is one keyed aggregate + a 1-row
    total (declared broadcast).
    """
    # base (the full 2-iteration assignment plan) is consumed TWICE — the
    # 1-row total and the per-cluster aggregate; pinned so the Lloyd
    # iterations execute once per run (r12 dual-consumer rule).
    base = REGISTRY["ml_kmeans_2iter"].fn(spark, sf_dir).cache()
    tot = base.agg(F.count(F.lit(1)).alias("n_total"))
    i4 = F.expr("CAST(round(d2 * 10000) AS BIGINT)")
    return (
        base.crossJoin(F.broadcast(tot))
        .groupBy("cluster", "n_total")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(i4).alias("si"),
        )
        .select(
            "cluster",
            F.col("n").cast("long").alias("n"),
            F.expr("CAST(n * 1000000 div n_total AS BIGINT)").alias(
                "share_ppm"
            ),
            F.col("si").cast("long").alias("inertia_e4"),
            F.expr("CAST(si div n AS BIGINT)").alias("mean_d2_e4"),
        )
    )
