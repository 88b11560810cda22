"""Shared helpers for the round-evidence artifacts.

Round numbering and commit stamping must be byte-identical across
SWEEP_r{N}.json (driver_sim.py) and SCALE_LEDGER.jsonl (sf1_smoke.py) —
a convention change applied to one writer and not the other would
silently desynchronize the two records, so both import from here. The
vanilla-session oracle loop lives here too: driver_sim.py,
evidence_ledger.py and ``probe.py check`` all run it.
"""

from __future__ import annotations

import glob
import os
import subprocess
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def current_round(root: str = REPO_ROOT) -> int:
    """The in-progress round: one past the newest CORRECTNESS_r{N}.json
    (the driver writes that file when a round CLOSES, so its max is the
    previous round)."""
    rounds = [
        int(os.path.basename(p)[len("CORRECTNESS_r"):].split(".")[0])
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    ]
    return (max(rounds) + 1) if rounds else 0


def head_sha(root: str = REPO_ROOT) -> str:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:  # noqa: BLE001
        return "unknown"


def source_tree_hash(root: str = REPO_ROOT) -> str:
    """md5 over the operator-source CONTENT a sweep certifies —
    ``bangdatapipeline_spark/**/*.py`` + ``__spark_entry__.py`` (sorted
    relpaths + bytes). Content-addressed, unlike ``head_sha``: a sweep
    run on a dirty-but-final tree stays valid after the commit that
    lands the identical content, so the freshness gate doesn't force an
    artifact-only follow-up commit after every operator change."""
    import hashlib

    h = hashlib.md5()
    paths = sorted(
        glob.glob(
            os.path.join(root, "bangdatapipeline_spark", "**", "*.py"),
            recursive=True,
        )
    )
    paths.append(os.path.join(root, "__spark_entry__.py"))
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def load_green_hashes(root: str = REPO_ROOT) -> dict[str, str]:
    """{key: fingerprint at the previous round's closing commit} —
    delegates to the one shared parser in the package (also used by
    __spark_entry__), so the two consumers cannot desynchronize."""
    from bangdatapipeline_spark.caches import load_green_hashes as _load

    return _load(root)


def vanilla_session(app: str):
    """A driver-like session: none of the engine's configs (no
    nanosAsLong, no timezone) — the contract must self-configure."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName(app)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def oracle_loop(spark, keys, sf_dir: str) -> list[str]:
    """Check ``keys`` against their DuckDB oracles (``tests.oracle``),
    printing one PASS/FAIL line each; returns the failed keys.

    Long-session hygiene: a sweep runs many more queries than the
    driver's window in ONE default-heap session; without cache release
    the accumulated pinned blocks eventually fail a mid-sweep broadcast
    build (see bangdatapipeline_spark/caches.py). ``maybe_release`` is
    pressure-triggered (the graph family can exhaust the heap within one
    fixed stride at sf0.1), with the fixed stride as a backstop."""
    from bangdatapipeline_spark import caches
    from bangdatapipeline_spark.registry import load_all
    from tests.oracle import compare_query

    registry = load_all()
    failed = []
    for i, key in enumerate(keys):
        caches.maybe_release(spark, i)
        t0 = time.time()
        try:
            ok, msg = compare_query(spark, registry[key], sf_dir)
        except Exception as ex:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION {type(ex).__name__}: {ex}"
        print(f"{'PASS' if ok else 'FAIL'} {key}: {msg} "
              f"({time.time() - t0:.1f}s)", flush=True)
        if not ok:
            failed.append(key)
    return failed
