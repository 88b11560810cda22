"""Engine cache hygiene for long-running host sessions.

Operators cache reusable intermediates (``.cache()`` on oriented edge
lists, adjacency arrays, candidate stages, ...) because within one query
— and across a bench run — reuse beats recompute. But Spark's
CacheManager holds every registered relation until it is explicitly
unpersisted, so a host session that executes hundreds of engine queries
(a verification sweep, a notebook that lives for days) accumulates
pinned storage blocks without bound. In local mode that heap is the
driver JVM's; a later broadcast build can then fail with "Not enough
memory to build and broadcast" even though every individual query is
well within budget — observed on the 249-query sf0.1 sweep in a
default-heap session (graph_triangles' 33 MiB AQE auto-broadcast was
the straw, not the cause).

The memo rule. Every shared session substrate (graph edge caches,
adjacency arrays, ANN query broadcasts) is built by a ``(spark,
sf_dir)`` function decorated with :func:`memo`, which keys on
``(session_key(spark), sf_dir)`` and returns the SAME object on every
hit — plan identity is what lets CacheManager reuse a cached relation.
``session_key`` is the context's ``applicationId``, never the session
object's ``id()`` (its docstring says why). A builder derives every
input from ``(spark, sf_dir)`` itself, so the key covers everything the
result depends on.

The engine cannot raise ``spark.driver.memory`` on an externally built
session (static config), so being a bounded-memory citizen is its only
lever: ``release(spark)`` drops every cached relation in the session
and empties every memo so the next query re-caches fresh. It drops
references only — nothing is destroyed — so a DataFrame the engine
returned before a release still runs after it (uncached); Spark's
ContextCleaner reclaims a broadcast's blocks once no live plan holds
it. Hosts that run many engine queries back-to-back should call it
periodically (the bundled sweep harness does, every
``RELEASE_EVERY`` queries); single-query or bench hosts never need to.

At 100 TB the same discipline applies unchanged — executor storage
memory is evictable, but CacheManager entries and their disk-spilled
blocks are not released until unpersist, so a long-lived service that
never calls this leaks cluster storage just as surely.
"""

from __future__ import annotations

import functools

from pyspark.sql import SparkSession

# Suggested cadence for hosts that run the full registry in one session.
RELEASE_EVERY = 40

# "module.qualname" of each memoized builder -> its memo dict.
_MEMOS: dict[str, dict] = {}


def session_key(spark: SparkSession) -> str:
    """Memo key for the engine's per-session caches.

    A session-object ``id()`` is NOT safe here: CPython reuses addresses, so after a
    session is garbage-collected mid-process a successor session can get
    the same id and silently alias the predecessor's memo entries (stale
    broadcasts, plans bound to a dead context). ``applicationId`` is
    unique per *started* SparkContext, which is exactly the lifetime of
    the broadcasts and cached plans these memos hold. Sibling sessions
    from ``newSession()`` share an applicationId — and sharing their
    context-level broadcasts/scans is correct.
    """
    return spark.sparkContext.applicationId


def memo(build):
    """Memoize a ``build(spark, sf_dir)`` substrate builder per
    ``(session_key(spark), sf_dir)`` and register its dict for
    :func:`release`."""
    cache: dict = {}
    _MEMOS[f"{build.__module__}.{build.__qualname__}"] = cache

    @functools.wraps(build)
    def get(spark: SparkSession, sf_dir: str):
        key = (session_key(spark), sf_dir)
        if key not in cache:
            cache[key] = build(spark, sf_dir)
        return cache[key]

    return get


def load_green_hashes(root: str) -> dict[str, str]:
    """{key: evidence fingerprint at its last graded commit} from
    ``<root>/scripts/green_hashes.json``; {} when absent or unreadable.

    The ONE parser for this file — shared by ``__spark_entry__`` (the
    rotation's staleness signal) and ``scripts/_evidence.py`` (the sf1
    ledger's rewritten-key slice), so a format change cannot
    desynchronize the two consumers. Lives here rather than in scripts/
    because the driver imports ``__spark_entry__`` with only the repo
    root on sys.path.
    """
    import json
    import os

    try:
        with open(os.path.join(root, "scripts", "green_hashes.json")) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    hashes = data.get("hashes", data) if isinstance(data, dict) else {}
    return {k: v for k, v in hashes.items() if isinstance(v, str)}


def release(spark: SparkSession) -> None:
    """Unpersist everything the engine cached in ``spark`` and empty every
    :func:`memo`.

    ``clearCache()`` empties the session's CacheManager — both the
    storage blocks and the registry entries — so DataFrames memoized by
    the engine would otherwise silently run *uncached* afterwards;
    emptying the memos too means the next call path re-caches.
    DataFrames already returned stay runnable: broadcasts are dropped,
    not destroyed (module docstring). Plain plan memos
    (``tables._df_cache`` holds lazy scans, no blocks) are kept: they
    cost nothing to hold and save the per-query file-listing job.
    """
    spark.catalog.clearCache()
    for cache in _MEMOS.values():
        cache.clear()


def free_heap_fraction(spark: SparkSession) -> float:
    """Fraction of the driver JVM's max heap not currently allocated to
    live+garbage objects. An estimate (garbage counts as used until the
    next GC), which errs on the safe side for pressure checks."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()  # type: ignore[union-attr]
    used = rt.totalMemory() - rt.freeMemory()
    return 1.0 - used / rt.maxMemory()


def release_if_pressured(
    spark: SparkSession, min_free_fraction: float = 0.35
) -> bool:
    """Release engine caches when driver-heap headroom drops below
    ``min_free_fraction`` of max heap; returns whether a release ran.

    The fixed-stride release alone proved insufficient: cache footprint
    is query-dependent (the graph family's oriented-edge/adjacency memos
    at sf0.1 can exhaust a default 1 GiB heap WITHIN one stride, failing
    the next broadcast build). Pressure-triggered release is what a real
    long-running service does — check is two JVM calls, so it is cheap
    enough to run before every query. The explicit System.gc() after a
    release makes the freed blocks visible to the next pressure reading
    (clearCache only drops references; the estimate counts garbage as
    used until a collection happens).
    """
    if free_heap_fraction(spark) >= min_free_fraction:
        return False
    release(spark)
    spark._jvm.System.gc()  # type: ignore[union-attr]
    return True


def maybe_release(spark: SparkSession, i: int) -> None:
    """The per-query hygiene policy for registry sweep loops, in ONE
    place (r10 review: the identical two-line stanza had been copy-pasted
    into three runners): pressure-triggered release first, with the
    fixed ``RELEASE_EVERY`` stride as a deterministic backstop."""
    if not release_if_pressured(spark) and i and i % RELEASE_EVERY == 0:
        release(spark)
