"""Property spot-checks (SURVEY.md §5.3.4) — cheap invariants that hold
regardless of data scale, catching classes of bugs the oracle comparison
can't (the oracle could be wrong the same way)."""

from __future__ import annotations

import pyspark.sql.functions as F

from bangdatapipeline_spark.registry import load_all
from bangdatapipeline_spark.tables import load_table

REGISTRY = load_all()


def test_dedup_idempotent(spark, sf_dir):
    """dedup(dedup(x)) == dedup(x)."""
    once = REGISTRY["stream_dedup"].fn(spark, sf_dir)
    twice = once.dropDuplicates(["event_id"])
    # compare materialized row sets (exceptAll over this union+dedup plan
    # trips a Catalyst attribute-rewrite bug in Spark 4.1.2)
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


def test_sessionize_invariants(spark, sf_dir):
    """#sessions == #users + #gaps>30min; sessions partition the events."""
    sess = REGISTRY["stream_session"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")

    n_events = ev.count()
    agg = sess.agg(
        F.sum("n_events").alias("tot"), F.count("*").alias("n_sess")
    ).collect()[0]
    assert agg.tot == n_events  # every event is in exactly one session

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .filter(F.col("prev").isNotNull())
        .filter(F.col("ts") - F.col("prev") > F.expr("INTERVAL 30 MINUTES"))
        .count()
    )
    n_users = ev.select("user_id").distinct().count()
    assert agg.n_sess == n_users + gaps

    # sessions never overlap per user
    sw = Window.partitionBy("user_id").orderBy("sess_start")
    overlaps = (
        sess.withColumn("prev_end", F.lag("sess_end").over(sw))
        .filter(F.col("prev_end").isNotNull())
        .filter(F.col("sess_start") <= F.col("prev_end"))
        .count()
    )
    assert overlaps == 0


def test_minhash_finds_all_high_jaccard_pairs(spark, sf_dir):
    """LSH recall check on the bounded subset where exact ground truth is
    computed: every exact pair with jaccard >= tau must be a minhash pair
    (with 4x4 bands at j>=0.9, miss probability < 1e-6)."""
    exact = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_near_jaccard"].fn(spark, sf_dir).collect()
        if r.jaccard >= 0.9
    }
    approx = {
        (r.id_a, r.id_b)
        for r in REGISTRY["dedup_near_minhash"].fn(spark, sf_dir).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    assert exact <= approx


def test_knn_threshold_consistency(spark, sf_dir):
    """Every top-k neighbor with sim >= tau must appear in the
    FULL-CORPUS threshold self-join — that's ``knn_threshold_gemm``
    since round 9 (``knn_threshold_pairs`` is the vec_id-bounded exact
    baseline; its agreement with the gemm kernel inside the bound is
    pinned by test_threshold_gemm_equals_fold)."""
    topk = REGISTRY["knn_cosine_topk"].fn(spark, sf_dir).collect()
    pairs = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.sim
        for r in REGISTRY["knn_threshold_gemm"].fn(spark, sf_dir).collect()
    }
    for r in topk:
        if r.sim >= 0.3:
            key = (min(r.q_id, r.n_id), max(r.q_id, r.n_id))
            assert key in pairs and abs(pairs[key] - r.sim) < 1e-9


def test_centroid_purity_bounds(spark, sf_dir):
    rows = REGISTRY["label_purity"].fn(spark, sf_dir).collect()
    assert len(rows) == 10  # labels 0..9
    for r in rows:
        assert -1.0 <= r.min_cos <= r.avg_cos <= r.max_cos <= 1.0


def test_hash_sample_stable_across_partitionings(spark, sf_dir):
    """The md5-gate sample must select the exact same rows regardless of
    partitioning (the property Spark's seeded df.sample lacks)."""
    from bangdatapipeline_spark.operators.sampling import _hash_gate

    o = load_table(spark, sf_dir, "orders")
    base = {r.o_orderkey for r in
            o.filter(_hash_gate(F.col("o_orderkey")) < "33333333").collect()}
    reparted = {r.o_orderkey for r in
                o.repartition(7, "o_custkey")
                .filter(_hash_gate(F.col("o_orderkey")) < "33333333").collect()}
    assert base == reparted
    n = o.count()
    assert 0.18 <= len(base) / n <= 0.22, f"{len(base)}/{n}"


def test_stratified_sample_rates(spark, sf_dir):
    """Per-stratum realized rates track the configured thresholds."""
    from bangdatapipeline_spark.registry import load_all

    sampled = {r.segment: r.n_sampled
               for r in load_all()["sample_stratified"].fn(spark, sf_dir).collect()}
    totals = {r.c_mktsegment: r.n
              for r in load_table(spark, sf_dir, "customer")
              .groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    want = {"AUTOMOBILE": 0.5, "BUILDING": 0.25}
    for seg, n in sampled.items():
        rate = n / totals[seg]
        target = want.get(seg, 0.102)
        assert abs(rate - target) <= 0.06, f"{seg}: {rate:.3f} vs {target}"


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    """Every near-dup pair lands in one cluster; each cluster is labeled
    by its min member (the canonical keep-doc)."""
    from bangdatapipeline_spark.registry import load_all

    reg = load_all()
    pairs = [(r.id_a, r.id_b)
             for r in reg["dedup_near_minhash"].fn(spark, sf_dir).collect()]
    lab = {r.doc_id: r.cluster_id
           for r in reg["dedup_clusters"].fn(spark, sf_dir).collect()}
    for a, b in pairs:
        assert lab[a] == lab[b], (a, b)
    by_cluster = {}
    for doc, c in lab.items():
        by_cluster.setdefault(c, []).append(doc)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_weighted_sample_ht_estimator_unbiased(spark, sf_dir):
    """The Horvitz-Thompson reweighted total of the weighted sample must
    estimate the true population total (within sampling error), and
    every emitted weight must be 1/incl_p with incl_p in (0, 1]."""
    from bangdatapipeline_spark.registry import load_all

    reg = load_all()
    sample = reg["sample_weighted"].fn(spark, sf_dir).collect()
    true_total = (
        load_table(spark, sf_dir, "orders")
        .agg(F.sum("o_totalprice")).collect()[0][0]
    )
    ht_total = sum(r.totalprice * r.ht_weight for r in sample)
    assert abs(ht_total - true_total) / true_total < 0.05, (ht_total, true_total)
    for r in sample[:200]:
        assert 0 < r.incl_p <= 1.0
        assert abs(r.ht_weight - 1.0 / r.incl_p) < 1e-12


def test_weighted_sample_is_scan_stage_filter(spark, sf_dir):
    """Weighted gate = per-row filter fused into the scan stage: no
    Exchange in the plan (same property as the uniform hash gate)."""
    from bangdatapipeline_spark.registry import load_all

    plan = (load_all()["sample_weighted"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, plan[:2000]


def test_gapfill_invariants(spark, sf_dir):
    """Gap-filled series: hourly-continuous per user, locf equals the
    last observed rollup, lerp is bounded by its bracketing observations
    on gap rows, and observed rows carry their own value in both fills."""
    from bangdatapipeline_spark.registry import load_all

    rows = load_all()["events_gapfill"].fn(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for user, series in by_user.items():
        series.sort(key=lambda r: r.hr)
        for a, b in zip(series, series[1:]):
            assert (b.hr - a.hr).total_seconds() == 3600, (user, a.hr, b.hr)
        # forward scan: locf on a gap row == last observed locf
        last_locf = None
        for r in series:
            if r.is_observed:
                last_locf = r.locf
            elif last_locf is not None:
                assert r.locf == last_locf, (user, r.hr)
        # lerp bounded by bracketing observed values on interior gaps
        obs = [(i, r.lerp) for i, r in enumerate(series) if r.is_observed]
        for (i0, v0), (i1, v1) in zip(obs, obs[1:]):
            lo, hi = min(v0, v1), max(v0, v1)
            for r in series[i0 + 1:i1]:
                assert lo - 1e-9 <= r.lerp <= hi + 1e-9, (user, r.hr, r.lerp)


def test_anomaly_z_threshold_margin(spark, sf_dir):
    """The |z| > 2 cut in events_anomaly is only hash-stable if no z sits
    within float noise of the threshold. Recompute ALL per-user-day z
    scores (not just the flagged ones) and assert a real margin."""
    import pyspark.sql.functions as F

    from bangdatapipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum("value").alias("val"))
    stats = daily.groupBy("user_id").agg(
        F.avg("val").alias("mu"), F.stddev_samp("val").alias("sigma"),
        F.count("*").alias("n_days"))
    z = (F.col("val") - F.col("mu")) / F.col("sigma")
    margin = (daily.join(stats, "user_id")
              .filter((F.col("n_days") >= 5) & (F.col("sigma") > 0))
              .select(F.min(F.abs(F.abs(z) - F.lit(2.0))).alias("m"))
              .collect()[0].m)
    assert margin is not None and margin > 1e-6, margin


def test_pagerank_is_probability_distribution(spark, sf_dir):
    """Rank mass sums to 1 (no dangling leakage on the undirected graph)
    and every node's rank respects the (1-d)/N floor."""
    from bangdatapipeline_spark.registry import load_all

    rows = load_all()["graph_pagerank"].fn(spark, sf_dir).collect()
    total_ppm = sum(r.rank_ppm for r in rows)
    assert abs(total_ppm - 1e6) < 1.0, total_ppm
    floor_ppm = 0.15 / len(rows) * 1e6
    assert all(r.rank_ppm >= floor_ppm - 1e-3 for r in rows)


def test_transitions_probabilities_row_normalized(spark, sf_dir):
    """Each prev_type's outgoing probabilities sum to exactly 1."""
    from bangdatapipeline_spark.registry import load_all

    rows = load_all()["events_transitions"].fn(spark, sf_dir).collect()
    sums = {}
    for r in rows:
        sums[r.prev_type] = sums.get(r.prev_type, 0.0) + r.p
    assert sums
    for k, s in sums.items():
        assert abs(s - 1.0) < 1e-9, (k, s)


def test_split_shares_and_determinism(spark, sf_dir):
    """Split shares per lang sum to 1, all three splits are populated,
    and the assignment is invariant under input repartitioning."""
    from bangdatapipeline_spark.registry import load_all

    fn = load_all()["sample_split"].fn
    rows = fn(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.split] = (r.n, r.share)
    for lang, splits in by_lang.items():
        assert set(splits) == {"train", "val", "test"}, (lang, splits)
        assert abs(sum(s for _, s in splits.values()) - 1.0) < 1e-9
        n = sum(n for n, _ in splits.values())
        assert 0.7 < splits["train"][0] / n < 0.9, (lang, splits)
    again = {(r.lang, r.split): r.n for r in fn(spark, sf_dir).collect()}
    assert again == {(r.lang, r.split): r.n for r in rows}


def test_kmeans_argmin_margin(spark, sf_dir):
    """The k-means hash check survives centroid ulp noise only if every
    vector's best-vs-second-best d2 gap clears float error by orders of
    magnitude. Recompute round-2 distances for ALL (vector, centroid)
    pairs and assert the min margin."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from bangdatapipeline_spark.operators.similarity import (
        _KMEANS_K, dot_double)
    from bangdatapipeline_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    c0 = e.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").cast("int").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        dot_double(F.col("embedding"), F.col("embedding")).alias("csq"))
    d2 = F.lit(1.0) + F.col("csq") - 2 * dot_double(
        F.col("embedding"), F.col("c_emb"))
    scored = e.crossJoin(F.broadcast(c0)).select(
        "vec_id", "c_id", d2.alias("d2"))
    w = Window.partitionBy("vec_id").orderBy("d2")
    margins = (scored
               .withColumn("gap", F.lead("d2").over(w) - F.col("d2"))
               .filter(F.col("gap").isNotNull())
               .groupBy("vec_id").agg(F.min("gap").alias("gap")))
    m = margins.agg(F.min("gap")).collect()[0][0]
    assert m is not None and m > 1e-9, m


def test_asof_nearest_invariants(spark, sf_dir):
    """Nearest-asof results: within tolerance, correct direction sign,
    and strictly the closest click (cross-checked per purchase against
    a brute-force pass over collected events)."""
    from collections import defaultdict

    from bangdatapipeline_spark.registry import load_all
    from bangdatapipeline_spark.tables import load_table

    got = {r.purchase_id: r
           for r in load_all()["join_asof_nearest"].fn(spark, sf_dir).collect()}
    assert got and any(r.direction == "fwd" for r in got.values())
    assert any(r.direction == "back" for r in got.values())
    ev = load_table(spark, sf_dir, "events").collect()
    clicks = defaultdict(list)
    for r in ev:
        if r.event_type == "click":
            clicks[r.user_id].append(r)
    tol = 30 * 60 * 1_000_000
    for r in ev:
        if r.event_type != "purchase":
            continue
        best = min((abs((c.ts - r.ts).total_seconds()) for c in clicks[r.user_id]),
                   default=None)
        have = got.get(r.event_id)
        if best is not None and best * 1e6 <= tol:
            assert have is not None and abs(have.d_us - best * 1e6) < 1, (
                r.event_id, have.d_us if have else None, best * 1e6)
            assert have.d_us <= tol
        else:
            assert have is None, r.event_id


def test_cms_estimate_upper_bounds_exact(spark, sf_dir):
    """Count-min property: every reported estimate >= the exact count
    (min over hash rows can only overcount), and the heavy-hitter list
    is the true exact-count top-10."""
    rows = REGISTRY["agg_cms_heavy_hitters"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r.cms_n >= r.exact_n for r in rows)
    assert all(r.overcount == r.cms_n - r.exact_n for r in rows)
    ev = load_table(spark, sf_dir, "events")
    true_top = (
        ev.groupBy("user_id").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(10).collect()
    )
    assert [r.user_id for r in rows] == [r.user_id for r in true_top]


def test_vocab_coverage_accounting(spark, sf_dir):
    """OOV accounting closes: oov <= total, in-vocab distinct <= V, and
    oov_rate is exactly oov/total (rounded)."""
    from bangdatapipeline_spark.operators.llm_text import VOCAB_V

    for r in REGISTRY["text_vocab"].fn(spark, sf_dir).collect():
        assert 0 <= r.oov_pairs <= r.total_pairs
        assert r.distinct_in_vocab <= VOCAB_V
        assert r.distinct_in_vocab <= r.distinct_pairs
        assert abs(r.oov_rate - round(r.oov_pairs / r.total_pairs, 6)) < 1e-9


def test_train_prep_funnel_monotone(spark, sf_dir):
    """Each prep stage can only drop documents: n_raw >= n_quality >=
    n_exact >= n_dedup; packed bins exist iff docs survived."""
    for r in REGISTRY["pipeline_train_prep"].fn(spark, sf_dir).collect():
        assert r.n_raw >= r.n_quality >= r.n_exact >= r.n_dedup >= 0
        assert (r.n_bins > 0) == (r.n_dedup > 0)
        assert (r.total_tokens > 0) == (r.n_dedup > 0)


def test_triangle_count_sanity(spark, sf_dir):
    """Triangle count bounds: 0 <= triangles <= C(nodes,3); edges within
    C(nodes,2)."""
    r = REGISTRY["graph_triangles"].fn(spark, sf_dir).collect()[0]
    n = r.n_nodes
    assert 0 < r.n_edges <= n * (n - 1) // 2
    assert 0 <= r.n_triangles <= n * (n - 1) * (n - 2) // 6


def test_pit_join_exactly_one_version_per_event(spark, sf_dir):
    """Disjoint half-open ranges -> every fact row at-or-after its
    entity's first version matches EXACTLY one version: output row count
    equals the in-range fact row count (no amplification, no drops).
    ((l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    so the check counts rows, not keys.)"""
    out = REGISTRY["join_temporal_pit"].fn(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    li = load_table(spark, sf_dir, "lineitem")
    first = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.min("o_orderdate").alias("first_from")
    )
    expected = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(first, o.o_custkey == first.custkey)
        .filter(F.col("l_shipdate") >= F.col("first_from"))
        .count()
    )
    assert out.count() == expected


def test_tiled_gemm_block_count_invariant(spark, sf_dir):
    """The tiled all-pairs kernel must return the SAME pair set for any
    block count — tiling is a physical choice, not a semantic one (the
    invariant that lets B scale with corpus size at 100 TB)."""
    from bangdatapipeline_spark.operators.similarity import gemm_pairs_tiled
    from bangdatapipeline_spark.tables import load_table as lt

    e = lt(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def pairs(n_blocks):
        df = gemm_pairs_tiled(e, n_blocks=n_blocks).select("id_a", "id_b")
        return sorted(map(tuple, df.collect()))

    assert pairs(2) == pairs(8) == pairs(13)


def test_ewma_partition_invariant_and_bounded(spark, sf_dir):
    """EWMA output must not depend on the input's partitioning (the
    per-user array sort gives a total order), and every smoothed value
    lies within [min, max] of that user's trailing window inputs — here
    checked against the user's global min/max envelope."""
    base = REGISTRY["win_ewma"].fn(spark, sf_dir)
    a = sorted(map(tuple, base.collect()))
    shuffled = load_table(spark, sf_dir, "events").repartition(13, "event_type")
    import bangdatapipeline_spark.tables as T
    from bangdatapipeline_spark.caches import session_key

    key = (session_key(spark), sf_dir, "events")
    orig = T._df_cache.get(key)
    T._df_cache[key] = shuffled
    try:
        b = sorted(map(tuple, REGISTRY["win_ewma"].fn(spark, sf_dir).collect()))
    finally:
        T._df_cache[key] = orig
    assert a == b
    env = {
        r.user_id: (r.lo, r.hi)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in base.collect():
        lo, hi = env[r.user_id]
        assert lo - 1e-6 <= r.ewma <= hi + 1e-6


def test_paragraph_dedup_accounting(spark, sf_dir):
    """Chunk accounting: across the corpus, every md5-distinct chunk is
    counted exactly once as an original — total chunks == distinct
    chunks + duplicated chunks."""
    out = REGISTRY["dedup_paragraph_hash"].fn(spark, sf_dir)
    agg = out.agg(
        F.sum("n_paras").alias("total"), F.sum("n_dup_paras").alias("dups")
    ).collect()[0]
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / 10.0).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * 10 + 1, 10)),
    )
    distinct_chunks = (
        d.filter(F.size(toks) > 0)
        .select(F.explode(chunks).alias("para"))
        .select(F.md5("para"))
        .distinct()
        .count()
    )
    assert agg.total == distinct_chunks + agg.dups


def test_bitmap_distinct_equals_exact(spark, sf_dir):
    """The OR-merged bitmap count must equal plain countDistinct."""
    bm = {
        r.event_type: r.n_users
        for r in REGISTRY["agg_bitmap_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert bm == exact


def test_decontaminate_invariants(spark, sf_dir):
    """Every eval doc's hit count is bounded by its shingle count, rates
    are consistent, and no train doc appears in the output."""
    out = REGISTRY["decontaminate_ngram"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert r.doc_id % 17 == 0
        assert 0 <= r.n_hits <= r.n_shingles
        assert abs(r.contam_rate - round(r.n_hits / r.n_shingles, 4)) < 1e-9
        assert r.contaminated == (r.n_hits / r.n_shingles >= 0.05)


def test_interpolate_spine_invariants(spark, sf_dir):
    """The interpolation output is deterministic across runs, the spine
    is contiguous per user, and it starts/ends on observations."""
    base = sorted(map(tuple, REGISTRY["ts_interpolate_linear"].fn(spark, sf_dir).collect()))
    rows = REGISTRY["ts_interpolate_linear"].fn(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.day)
        # spine is contiguous days
        import datetime as dt
        days = [dt.date.fromisoformat(r.day) for r in rs]
        for a, b in zip(days, days[1:]):
            assert (b - a).days == 1, f"gap in spine for user {user}"
        assert rs[0].src in ("obs",)  # spine starts at first observation
        assert rs[-1].src in ("obs",)
    assert base == sorted(map(tuple, rows))


def test_pca_unit_norm_and_dominance(spark, sf_dir):
    """The returned direction is unit-norm (post-rounding) and explains
    more variance than a coordinate axis (power iteration moved)."""
    rows = REGISTRY["emb_pca_power"].fn(spark, sf_dir).collect()
    norm2 = sum(r.loading**2 for r in rows)
    assert abs(norm2 - 1.0) < 1e-4
    assert len(rows) == 64
    assert len({r.dim for r in rows}) == 64


def test_mmr_picks_are_diverse_and_valid(spark, sf_dir):
    """MMR picks come from the candidate pool, are distinct per query,
    and pick 1 is the exact top-1."""
    mmr = REGISTRY["knn_mmr_diversify"].fn(spark, sf_dir)
    exact = REGISTRY["knn_cosine_topk"].fn(spark, sf_dir)
    top1 = {r.q_id: r.n_id for r in exact.filter("rn = 1").collect()}
    by_q = {}
    for r in mmr.collect():
        by_q.setdefault(r.q_id, {})[r.pick_rank] = r
    for q, picks in by_q.items():
        assert set(picks) == {1, 2, 3}
        assert picks[1].n_id == top1[q]
        assert len({p.n_id for p in picks.values()}) == 3
        # greedy scores can only decrease after the first diversified pick
        assert picks[2].mmr_score >= picks[3].mmr_score - 1e-9


def test_rank_eval_bounds(spark, sf_dir):
    """Metric sanity: recall/mrr/ndcg all in [0,1]; perfect queries have
    all three at 1."""
    rows = REGISTRY["eval_rank_metrics"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.recall_at_k <= 1.0
        assert 0.0 <= r.mrr <= 1.0
        assert 0.0 <= r.ndcg <= 1.0 + 1e-9
        if r.n_hits == 5 and r.mrr == 1.0 and r.ndcg < 1.0:
            # all hits but imperfect order — ndcg must still be < 1 only
            # when order differs; with binary relevance and full hits the
            # system DCG equals IDCG regardless of order
            raise AssertionError("full-hit query must have ndcg == 1")


def test_cdc_merge_partition_and_status_consistency(spark, sf_dir):
    """Every base customer appears exactly once; statuses partition the
    output; updated rows carry the changelog value."""
    out = REGISTRY["merge_cdc_upsert"].fn(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    n_base = c.count()
    agg = {r.merge_action: r.n for r in out.groupBy("merge_action").agg(F.count("*").alias("n")).collect()}
    assert agg.get("updated", 0) + agg.get("unchanged", 0) == n_base
    assert out.count() == n_base + agg.get("inserted", 0)


def test_morton_code_is_a_bijection(spark):
    """morton2 must be a bijection of the 16-bit grid — any collision or
    gap would silently merge/split z-order clusters."""
    from bangdatapipeline_spark.operators.curation import morton2

    grid = spark.range(65536).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    z = grid.select(morton2(F.col("x"), F.col("y")).alias("z"))
    stats = z.agg(
        F.countDistinct("z").alias("n"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).collect()[0]
    assert (stats.n, stats.lo, stats.hi) == (65536, 0, 65535)


def test_label_propagation_partition_invariant(spark, sf_dir):
    """LPA's min-tie-break must make the result independent of the
    physical partitioning (the determinism claim behind its oracle)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    a = {(r.community, r.n_nodes, r.rep)
         for r in REGISTRY["graph_label_propagation"].fn(spark, sf_dir).collect()}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = {(r.community, r.n_nodes, r.rep)
             for r in REGISTRY["graph_label_propagation"].fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_bfs_seed_level_and_monotone_reach(spark, sf_dir):
    """Level 0 is exactly the seed set; every level is nonempty up to the
    max emitted level (a BFS frontier cannot skip a hop)."""
    rows = {r.level: r for r in REGISTRY["graph_bfs_levels"].fn(spark, sf_dir).collect()}
    from bangdatapipeline_spark.operators.graph_analytics import (
        _BFS_SEED_BELOW,
        _trade_edges,
    )

    edges, _n = _trade_edges(spark, sf_dir)
    n_seeds = (
        edges.select("src").filter(F.col("src") < _BFS_SEED_BELOW).distinct().count()
    )
    assert rows[0].n_nodes == n_seeds
    assert set(rows) == set(range(max(rows) + 1))


def test_audience_overlap_set_algebra(spark, sf_dir):
    """Bitmap overlap must satisfy basic set algebra, and the HLL variant
    must agree with it exactly on the exact columns."""
    bit = {(r.type_a, r.type_b): r
           for r in REGISTRY["audience_overlap_bitmap"].fn(spark, sf_dir).collect()}
    hll = {(r.type_a, r.type_b): r
           for r in REGISTRY["audience_overlap_hll"].fn(spark, sf_dir).collect()}
    assert set(bit) == set(hll)
    for k, r in bit.items():
        assert r.n_both <= min(r.n_a, r.n_b)
        assert max(r.n_a, r.n_b) <= r.n_either <= r.n_a + r.n_b
        assert 0.0 <= r.jaccard <= 1.0
        assert hll[k].n_inter == r.n_both and hll[k].n_union == r.n_either


def test_hist_quantiles_ordered_and_bounded(spark, sf_dir):
    """p50 <= p95, both on the bin lattice, and the 7d total is at least
    the largest single-day share of it."""
    from bangdatapipeline_spark.operators.timeseries import _HQ_BIN_W

    rows = REGISTRY["ts_hist_quantile_sliding"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.p50_lo <= r.p95_lo
        assert r.p50_lo % _HQ_BIN_W == 0 and r.p95_lo % _HQ_BIN_W == 0
        assert r.n_7d > 0


def test_matryoshka_grading_is_consistent(spark, sf_dir):
    """Exactly top-k rows per query, prefix sims in [-1, 1], and the
    in_full_topk flags agree with the exact full-dim ranking."""
    from collections import Counter

    pref = REGISTRY["knn_matryoshka_topk"].fn(spark, sf_dir).collect()
    per_q = Counter(r.q_id for r in pref)
    assert set(per_q.values()) == {5}
    assert all(-1.000001 <= r.sim_prefix <= 1.000001 for r in pref)
    full = {(r.q_id, r.n_id)
            for r in REGISTRY["knn_cosine_topk"].fn(spark, sf_dir).collect()}
    for r in pref:
        assert r.in_full_topk == ((r.q_id, r.n_id) in full)


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    """The defining IVM identity: base-state + delta-state merged must
    equal the aggregate computed in one pass over all facts."""
    from bangdatapipeline_spark.tables import load_table

    merged = {
        (r.state_month, r.o_orderpriority): (r.n_orders, r.revenue, r.first_order, r.last_order)
        for r in REGISTRY["incremental_agg_merge"].fn(spark, sf_dir).collect()
    }
    full = {
        (r.state_month, r.o_orderpriority): (r.n_orders, r.revenue, r.first_order, r.last_order)
        for r in load_table(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("state_month"), "o_orderpriority"
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .collect()
    }
    assert set(merged) == set(full)
    for k, (n, rev, lo, hi) in full.items():
        mn, mrev, mlo, mhi = merged[k]
        assert (mn, mlo, mhi) == (n, lo, hi), k
        assert abs(mrev - rev) < 0.011, (k, mrev, rev)


def test_bloom_prefilter_is_sound_and_audited(spark, sf_dir):
    """A Bloom filter has NO false negatives: every true match passes
    the gate; the audit columns must be internally consistent."""
    for r in REGISTRY["join_bloom_prefilter"].fn(spark, sf_dir).collect():
        assert r.n_true_match <= r.n_pass_bloom <= r.n_orders
        assert r.n_false_pos == r.n_pass_bloom - r.n_true_match
        assert 0.0 <= r.fp_rate <= 1.0


def test_cc_alternating_agrees_with_label_propagation_partitioning(spark, sf_dir):
    """Alternating-star CC must be partition-invariant and its component
    partition must be consistent: node counts sum to the node total and
    every component touches both sides of the bipartite graph via at
    least one edge endpoint (n_customers >= 1 or n_suppliers >= 1)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    a = {(r.component_id, r.n_nodes, r.n_customers, r.n_suppliers)
         for r in REGISTRY["graph_cc_alternating"].fn(spark, sf_dir).collect()}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = {(r.component_id, r.n_nodes, r.n_customers, r.n_suppliers)
             for r in REGISTRY["graph_cc_alternating"].fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b
    for cid, n, nc, ns in a:
        assert n == nc + ns
        # every edge links a customer to a supplier, so any component
        # with >= 2 nodes has both kinds
        if n >= 2:
            assert nc >= 1 and ns >= 1


def test_ols_trend_matches_numpy(spark, sf_dir):
    """The distributed closed-form OLS must agree with numpy's polyfit
    on the same monthly series (slope to 1e-4 relative)."""
    import numpy as np

    from bangdatapipeline_spark.tables import load_table

    rows = REGISTRY["agg_ols_trend"].fn(spark, sf_dir).collect()
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            ((F.year("o_orderdate") - 1992) * 12 + F.month("o_orderdate") - 1).alias("xi"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100, 0).alias("y"))
        .collect()
    )
    series = {}
    for r in monthly:
        series.setdefault(r.o_orderpriority, []).append((r.xi, r.y))
    assert len(rows) == 5
    for r in rows:
        pts = sorted(series[r.o_orderpriority])
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        assert abs(r.slope_cents - slope) <= 1e-4 * max(1.0, abs(slope))
        assert abs(r.intercept_cents - intercept) <= 1e-3 * max(1.0, abs(intercept))
        assert 0.0 <= r.r2 <= 1.0


def test_quantiles_exact_match_sorted_truth(spark, sf_dir):
    """agg_median_exact / agg_quantiles_exact reproduce the values a full
    sort would give — checked against an independently sorted collect."""
    cents = {}
    for r in (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("g"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
        )
        .collect()
    ):
        cents.setdefault(r.g, []).append(r.c)
    for v in cents.values():
        v.sort()

    med = {r.grp: r.median_cents for r in REGISTRY["agg_median_exact"].fn(spark, sf_dir).collect()}
    for g, vals in cents.items():
        n = len(vals)
        want = (vals[(n - 1) // 2] + vals[n // 2]) / 2.0
        assert med[g] == want, (g, med[g], want)

    quant = {
        (r.grp, r.q): r.v
        for r in REGISTRY["agg_quantiles_exact"].fn(spark, sf_dir).collect()
    }
    for g, vals in cents.items():
        n = len(vals)
        for q in (0.25, 0.5, 0.75):
            h = (n - 1) * q
            lo = int(h)
            want = vals[lo] + (h - lo) * (vals[min(lo + 1, n - 1)] - vals[lo])
            assert quant[(g, q)] == want, (g, q, quant[(g, q)], want)


def test_naive_bayes_beats_majority_baseline(spark, sf_dir):
    """NB accuracy on the held-out split must beat always-guessing the
    majority language (else the classifier learned nothing)."""
    pred = REGISTRY["ml_naive_bayes"].fn(spark, sf_dir).collect()
    acc = sum(r.correct for r in pred) / len(pred)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    counts = d.groupBy("lang").count().collect()
    majority = max(c["count"] for c in counts) / sum(c["count"] for c in counts)
    assert acc > majority, (acc, majority)


def test_modularity_consistency(spark, sf_dir):
    """Q in [-0.5, 1]; the double equals the exact integer ratio; degree
    mass and edge counts reconcile with the raw edge list."""
    row = REGISTRY["graph_modularity"].fn(spark, sf_dir).collect()[0]
    assert -0.5 <= row.modularity <= 1.0
    assert row.modularity == row.q_num / (4.0 * row.m_edges * row.m_edges)
    assert row.n_communities >= 1


def test_knn_outlier_scores_from_raw_vectors(spark, sf_dir):
    """dist_ppm recomputed with numpy from the raw embeddings matches the
    operator exactly (same ppm lattice, same top-k tie-break)."""
    import numpy as np

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    got = {
        r.q_id: r.dist_ppm
        for r in REGISTRY["emb_knn_outlier"].fn(spark, sf_dir).collect()
    }
    from bangdatapipeline_spark.operators.similarity import N_QUERIES, TOP_K

    for qi in range(min(N_QUERIES, len(ids))):
        sims = mat @ mat[qi]
        cand = [(-(float(s)), int(i)) for s, i in zip(sims, ids) if i != ids[qi]]
        cand.sort()
        top = cand[:TOP_K]
        import math

        want = sum(1_000_000 - int(math.floor(-s * 1_000_000 + 0.5)) for s, _ in top)
        assert got[ids[qi]] == want, (ids[qi], got[ids[qi]], want)


def test_epoch_shuffle_invariants(spark, sf_dir):
    """Each epoch is a permutation of the corpus (every doc exactly once
    per epoch, positions 1..|shard| contiguous per shard), distinct
    epochs give genuinely different shard assignments, and the layout is
    identical under input repartitioning (md5-gate determinism)."""
    q = REGISTRY["layout_epoch_shuffle"]
    rows = q.fn(spark, sf_dir).collect()
    docs = {r.doc_id for r in rows}
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    for ep, rs in by_epoch.items():
        assert sorted(r.doc_id for r in rs) == sorted(docs), ep
        per_shard = {}
        for r in rs:
            per_shard.setdefault(r.shard, []).append(r.pos)
        for shard, poss in per_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1)), (ep, shard)
    e0 = {r.doc_id: r.shard for r in by_epoch[0]}
    e1 = {r.doc_id: r.shard for r in by_epoch[1]}
    moved = sum(1 for d in docs if e0[d] != e1[d])
    assert moved > len(docs) * 0.5, f"epochs too correlated: {moved}/{len(docs)}"


def test_dsir_selection_stable_across_partitionings(spark, sf_dir):
    """The DSIR integer-lattice score must be EXACTLY reproducible under
    a different input partitioning — the property the lattice exists for
    (float log-sums would drift with aggregation order)."""
    base = {
        (r.doc_id): (r.logw, r.selected)
        for r in REGISTRY["sample_importance_dsir"].fn(spark, sf_dir).collect()
    }
    # re-run the op over a repartitioned source by monkey-loading the table
    from bangdatapipeline_spark import tables
    from bangdatapipeline_spark.caches import session_key

    d = load_table(spark, sf_dir, "documents").repartition(7, "lang")

    key = (session_key(spark), sf_dir, "documents")
    orig = tables._df_cache.get(key)
    tables._df_cache[key] = d
    try:
        rep = {
            (r.doc_id): (r.logw, r.selected)
            for r in REGISTRY["sample_importance_dsir"].fn(spark, sf_dir).collect()
        }
    finally:
        if orig is not None:
            tables._df_cache[key] = orig
        else:
            # leave no repartitioned DataFrame behind for later tests
            tables._df_cache.pop(key, None)
    assert base == rep


def test_gopher_top_word_fold_matches_relational_count(spark, sf_dir):
    """The in-row longest-equal-run fold must equal the relational
    explode/groupBy max word count for every document."""
    got = {
        r.doc_id: r.top_n
        for r in REGISTRY["text_gopher_rules"].fn(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    rel = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_n"))
    )
    want = {r.doc_id: r.top_n for r in rel.collect()}
    assert got == want


def test_er_matching_recovers_exactly_the_clone_pairs(spark, sf_dir):
    """On the synthetic dirty registry the blocked matcher must achieve
    precision = recall = 1: every match is an (original, its clone) pair
    and every clone is matched — no false merges across customers (the
    balance check is what rejects same-block neighbors whose names are
    within edit distance)."""
    from bangdatapipeline_spark.operators.curation import (
        _ER_CLONE_EVERY,
        _ER_CLONE_OFFSET,
    )

    got = {
        (r.id_a, r.id_b)
        for r in REGISTRY["er_blocked_matching"].fn(spark, sf_dir).collect()
    }
    keys = [
        r.c_custkey
        for r in load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % _ER_CLONE_EVERY == 0)
        .select("c_custkey")
        .collect()
    ]
    want = {(k, k + _ER_CLONE_OFFSET) for k in keys}
    assert got == want


def test_scd2_apply_version_invariants(spark):
    """Every key in the applied dimension has a coherent version set:
    exactly one current row unless deleted (then zero currents), v2 rows
    exist iff the op opened a new version, and closed v1 rows keep the
    old value."""
    from bangdatapipeline_spark.operators.incremental import scd2_apply_changes

    rows = scd2_apply_changes(spark, "/root/testdata/sf0.001").collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r)
    assert by_key
    seen_ops = set()
    for key, vs in by_key.items():
        ops = {r["op"] for r in vs}
        assert len(ops) == 1, f"{key} mixes ops {ops}"
        op = ops.pop()
        seen_ops.add(op)
        n_current = sum(r["is_current"] for r in vs)
        versions = sorted(r["version"] for r in vs)
        if op == "noop":
            assert versions == [1] and n_current == 1
        elif op == "delete":
            assert versions == [1] and n_current == 0
        elif op == "insert":
            assert versions == [2] and n_current == 1
        else:  # update: closed v1 + current v2, values differ
            assert versions == [1, 2] and n_current == 1
            v1 = next(r for r in vs if r["version"] == 1)
            v2 = next(r for r in vs if r["version"] == 2)
            assert not v1["is_current"] and v2["is_current"]
            assert v1["bal_cents"] != v2["bal_cents"]
    # the synthetic drift must exercise all four paths
    assert seen_ops == {"noop", "delete", "insert", "update"}


def test_snapshot_diff_classes_reconcile(spark):
    """The diff's per-class counts must reconcile with the snapshots
    themselves: added+changed+unchanged = |B|, removed+changed+unchanged
    = |A|, and net drift = sum(B) - sum(A)."""
    import pyspark.sql.functions as F

    from bangdatapipeline_spark.operators.incremental import (
        _DIFF_CUT_A,
        _DIFF_CUT_B,
        cdc_snapshot_diff,
    )
    from bangdatapipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = {r["change_type"]: r for r in cdc_snapshot_diff(spark, sf).collect()}
    o = load_table(spark, sf, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    a = o.filter(F.col("o_orderdate") < _DIFF_CUT_A).agg(
        F.count("*").alias("n"), F.sum(cents).alias("s")
    ).collect()[0]
    b = (
        o.filter(
            (F.col("o_orderdate") < _DIFF_CUT_B) & (F.col("o_orderkey") % 17 != 0)
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(
                cents + F.when(F.col("o_orderkey") % 5 == 0, 250).otherwise(0)
            ).alias("s"),
        )
        .collect()[0]
    )
    n = lambda c: d[c]["n"] if c in d else 0  # noqa: E731
    assert n("added") + n("changed") + n("unchanged") == b["n"]
    assert n("removed") + n("changed") + n("unchanged") == a["n"]
    net = sum(r["net_delta_cents"] for r in d.values())
    assert net == b["s"] - a["s"]
    assert {"added", "removed", "changed", "unchanged"} <= set(d)


def test_sequence_gaps_complement_islands(spark):
    """Gaps and present keys must tile the [min, max] key range exactly:
    sum(gap_len) + n_keys = max - min + 1 (checked where the top-1000
    cap is not binding), and no gap may contain a present key."""
    import pyspark.sql.functions as F

    from bangdatapipeline_spark.operators.dataquality import dq_sequence_gaps
    from bangdatapipeline_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    gaps = dq_sequence_gaps(spark, sf).collect()
    keys = [
        r["k"]
        for r in load_table(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("k"))
        .collect()
    ]
    kset = set(keys)
    for g in gaps:
        assert g["gap_len"] == g["gap_end"] - g["gap_start"] + 1
        assert g["gap_start"] not in kset and g["gap_end"] not in kset
    if len(gaps) < 1000:  # cap not binding -> exact tiling
        assert sum(g["gap_len"] for g in gaps) + len(kset) == max(kset) - min(kset) + 1
