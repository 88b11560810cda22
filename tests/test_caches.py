"""Cache-hygiene contract: caches.release() must drop every engine-cached
relation AND leave every operator fully functional (memo registries
re-cache on next use), so a long-running host session can call it
between queries to keep its heap bounded."""

from __future__ import annotations

from bangdatapipeline_spark import caches
from bangdatapipeline_spark.operators import graph_analytics as ga

from tests.conftest import SMOKE_SF_DIR


def _n_cached(spark) -> int:
    jcm = spark._jsparkSession.sharedState().cacheManager()
    return 0 if jcm.isEmpty() else 1


def _memo(name: str) -> dict:
    return caches._MEMOS[f"{ga.__name__}.{name}"]


def test_release_drops_blocks_and_memos(spark):
    before = ga.graph_triangles(spark, SMOKE_SF_DIR).collect()
    assert _memo("_order_part") and _memo("_oriented_copurchase")  # memoized
    assert _n_cached(spark) == 1  # CacheManager holds engine relations

    caches.release(spark)
    assert _n_cached(spark) == 0
    assert not any(caches._MEMOS.values())

    # operators keep working and re-memoize after a release
    after = ga.graph_triangles(spark, SMOKE_SF_DIR).collect()
    assert after == before
    assert _memo("_order_part") and _n_cached(spark) == 1


def test_operator_memos_go_through_caches_memo():
    """No operator module keeps a hand-rolled module-level memo dict
    (``_x_cache = {}``): every substrate memo is a ``caches.memo``, so
    ``caches.release`` reaches it without naming it."""
    import ast
    import glob
    import os

    ops = os.path.join(os.path.dirname(ga.__file__), "*.py")
    offenders = []
    for path in sorted(glob.glob(ops)):
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.startswith("_")
                    and t.id.endswith("_cache")
                    and isinstance(value, ast.Dict)
                    and not value.keys
                ):
                    offenders.append(f"{os.path.basename(path)}:{t.id}")
    assert offenders == [], offenders


def test_release_keeps_returned_frames_runnable(spark):
    """A DataFrame the engine returned before ``caches.release`` still
    runs after it, with the same rows — the kNN kernels capture memoized
    query broadcasts, which release therefore drops rather than
    destroys. Dropping must not leak either: once the frames are gone,
    the ContextCleaner reclaims the dropped broadcasts' blocks."""
    import gc
    import time

    from pyspark.broadcast import Broadcast

    from bangdatapipeline_spark.registry import load_all

    registry = load_all()
    keys = ("knn_gemm_topk", "knn_pq_topk", "knn_rerank_two_stage", "graph_pagerank")
    frames = {k: registry[k].fn(spark, SMOKE_SF_DIR) for k in keys}
    before = {k: sorted(df.collect()) for k, df in frames.items()}
    bc_ids = [
        bc._jbroadcast.id()
        for m in caches._MEMOS.values()
        for (_, sf_dir), bc in m.items()
        if sf_dir == SMOKE_SF_DIR and isinstance(bc, Broadcast)
    ]
    assert len(bc_ids) == 3, bc_ids  # query matrix, PQ LUT, int8 queries

    caches.release(spark)
    for k, df in frames.items():
        assert sorted(df.collect()) == before[k], k

    bm = spark.sparkContext._jsc.sc().env().blockManager()
    block_id = spark._jvm.org.apache.spark.storage.BroadcastBlockId

    def live():
        return [i for i in bc_ids if bm.getStatus(block_id(i, "piece0")).isDefined()]

    assert live() == bc_ids
    del frames, df
    # ContextCleaner reclamation is asynchronous: bounded poll, re-forcing
    # both GCs each probe (the test_checkpoint_blocks_are_gc_reclaimed
    # pattern).
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        spark._jvm.System.gc()
        if not live() or time.monotonic() > deadline:
            break
        time.sleep(1)
    assert live() == []


def test_release_if_pressured_threshold(spark):
    """Below-threshold headroom triggers a release (forced by an
    impossible threshold); ample headroom does not (threshold 0)."""
    frac = caches.free_heap_fraction(spark)
    assert 0.0 < frac < 1.0
    assert caches.release_if_pressured(spark, min_free_fraction=0.0) is False
    assert caches.release_if_pressured(spark, min_free_fraction=1.01) is True
    assert _n_cached(spark) == 0


def test_bench_releases_only_at_pass_boundaries():
    """Bench-mode cache hygiene, r13 form. The round-4 rule was "bench.py
    never touches caches" (a release INSIDE the sweep would turn
    steady-state medians into cold re-cache timings). VERDICT r12 task 2b
    supersedes it: by row ~275 the shared session carries every pin of
    the sweep, and that end-of-sweep pressure contaminated the headline
    retry rows. The reconciled rule, pinned here: `caches.release` fires
    ONLY at the two pass boundaries (before the canonical rows, and
    before the noise-retry pass) — never inside the timed-row path
    (_time_query / _run_one / the benchable loop), so published medians
    stay steady-state (each retried row re-warms via its own cold run
    before its 3 timed runs), while no pressure-triggered release can
    fire mid-sweep (bench must not call release_if_pressured /
    maybe_release at all)."""
    import inspect
    import re

    import bench

    src = inspect.getsource(bench)
    # exactly the two boundary releases, nothing pressure-triggered
    assert len(re.findall(r"caches\.release\(spark\)", src)) == 2
    assert "release_if_pressured" not in src
    assert "maybe_release" not in src
    # neither timing helper releases anything
    for fn in (bench._time_query, bench._floor_sentinel):
        assert "release" not in inspect.getsource(fn)
    # both call sites precede their pass markers in source order
    first = src.index("caches.release(spark)")
    second = src.index("caches.release(spark)", first + 1)
    assert first < src.index("_CANONICAL_ROWS = (")
    assert src.index("# retry START") > second > src.index("retry_rows = headline_rows")
    # and every sweep harness DOES release, through the shared policy
    for runner in (
        "scripts/driver_sim.py",
        "scripts/sf1_smoke.py",
        "scripts/evidence_ledger.py",
    ):
        assert "caches.maybe_release(spark, i)" in open(runner).read(), runner


def test_memo_keys_use_application_id_not_object_id(spark):
    """VERDICT r8 task 3: CPython reuses object addresses, so an
    ``id(spark)``-keyed memo can alias a GC'd session's stale broadcast
    or plan onto its successor — exactly the long-session host profile
    driver_sim exercises. Two checks: (a) no ``id(spark)`` key anywhere
    in the package, tests, or scripts source (tests matter too: round 9
    found two property tests injecting table overrides under the OLD
    id() key, which load_table no longer reads — the tests silently
    compared a run against itself); (b) the memos actually key on the
    context's applicationId, so stopping one session and starting
    another (new applicationId) can never collide by construction."""
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..")
    offenders = [
        p
        for d in ("bangdatapipeline_spark", "tests", "scripts")
        for p in glob.glob(os.path.join(root, d, "**", "*.py"), recursive=True)
        if "id(spark)" in open(p).read() and os.path.basename(p) != "test_caches.py"
    ]
    assert offenders == [], offenders

    from bangdatapipeline_spark import caches, tables
    from tests.conftest import SF_DIR

    app_id = spark.sparkContext.applicationId
    assert caches.session_key(spark) == app_id
    tables.load_table(spark, SF_DIR, "region")
    assert (app_id, SF_DIR, "region") in tables._df_cache


def test_checkpoint_blocks_are_gc_reclaimed(spark):
    """ADVICE r8: knn_matryoshka_topk used to .cache() its pair table,
    pinning one CacheManager entry per session until an explicit
    release. The localCheckpoint replacement must instead be reclaimed
    by the ContextCleaner once the returned plan is garbage-collected —
    i.e. repeated invocations must NOT accumulate persisted RDDs without
    bound. Generous margins: after 4 invocations with refs dropped and
    both GCs forced, strictly fewer than 4 checkpoint RDDs may remain."""
    import gc
    import time

    from bangdatapipeline_spark.registry import load_all
    from tests.conftest import SF_DIR

    fn = load_all()["knn_matryoshka_topk"].fn

    def n_rdds():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_rdds()
    for _ in range(4):
        fn(spark, SF_DIR).count()
    # ContextCleaner reclamation is asynchronous: poll with a bounded
    # retry (ADVICE r9) instead of one fixed sleep — a loaded host may
    # need more than 3 s, and re-forcing GC each probe re-queues any
    # references the first pass missed.
    deadline = time.monotonic() + 30
    while True:
        gc.collect()
        spark._jvm.System.gc()
        if n_rdds() - base < 4 or time.monotonic() > deadline:
            break
        time.sleep(1)
    assert n_rdds() - base < 4, (base, n_rdds())
