"""Driver-window ordering contract for __spark_entry__.queries().

The driver verifies a bounded prefix of ``queries()`` per round, so dict
order IS the evidence-refresh policy. These tests pin the three-tier
self-steering order (failed -> never-checked -> green) and the r8
staleness rotation inside the green tier: oldest latest-green round
first, so r1-era evidence re-verifies before last round's (VERDICT r7
task 2 — without this, an all-green registry re-checks the same
insertion-order prefix forever).

No Spark session needed: ordering is pure bookkeeping over the registry
and the CORRECTNESS_r*.json history.
"""

from __future__ import annotations

import __spark_entry__ as entry
from bangdatapipeline_spark.registry import load_all, query_hash


def _ordered_keys(monkeypatch, green, failed, hashes=None):
    monkeypatch.setattr(entry, "_correctness_history", lambda: (green, failed))
    # isolate the tier logic under test from the repo's live staleness
    # file (mid-round it legitimately marks rewritten keys tier 0)
    monkeypatch.setattr(entry, "_green_hashes", lambda: hashes or {})
    return list(entry._ordered_registry())


def test_source_change_outranks_every_stale_green(monkeypatch):
    """VERDICT r8 task 1: green evidence only vouches for the code that
    ran. A key whose CURRENT fingerprint differs from its recorded
    last-green fingerprint must drop to the re-verify tier (0) and
    outrank every stale-but-unchanged green key — the age rotation alone
    cannot see rewrites."""
    registry = load_all()
    keys = list(registry)
    changed = keys[-1]  # last insertion position: worst case for tier 0
    recorded = {k: query_hash(registry[k]) for k in keys}
    recorded[changed] = "0" * 32  # pretend it was green under old source
    green = {k: 9 for k in keys}
    green[keys[0]] = 1  # the stalest ordinary green key
    ordered = _ordered_keys(monkeypatch, green, set(), hashes=recorded)
    assert ordered[0] == changed
    # and with no recorded hash (fresh checkout), nothing is demoted
    ordered = _ordered_keys(monkeypatch, green, set())
    assert ordered[0] == keys[0]


def test_refresh_script_applies_live_formula():
    """scripts/refresh_green_hashes.py must produce the LIVE
    registry.query_hash for the commit it stamps — otherwise recorded
    hashes would ALL spuriously differ and the whole window would demote
    to tier 0. Pinned by running its actual subprocess snippet against
    the current tree and comparing a sample of keys."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script_path = os.path.join(root, "scripts", "refresh_green_hashes.py")
    snippet_ns = {"__name__": "refresh_green_hashes", "__file__": script_path}
    with open(script_path) as f:
        exec(compile(f.read(), "refresh_green_hashes.py", "exec"), snippet_ns)
    cur_registry = os.path.join(root, "bangdatapipeline_spark", "registry.py")
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            snippet_ns["_SNIPPET"].format(root=root, cur_registry=cur_registry),
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr
    snippet_hashes = json.loads(proc.stdout.strip().splitlines()[-1])
    registry = load_all()
    assert set(snippet_hashes) == set(registry)
    for key in list(registry)[:5]:
        assert snippet_hashes[key] == query_hash(registry[key]), key


def test_query_hash_covers_transitive_helpers_and_constants():
    """The r10 fingerprint widening: a registered query's evidence hash
    must move when a shared in-package helper it calls (or a module
    constant it reads) changes — the r9 blind spot where kernels moved
    into helpers froze their consumers' fingerprints."""
    import inspect

    from bangdatapipeline_spark.operators.curation import morton2
    from bangdatapipeline_spark.registry import fingerprint_material

    registry = load_all()
    mat = fingerprint_material(registry["layout_zorder"])
    # transitively-called helper source is inside the digest material
    assert inspect.getsource(morton2) in mat
    # def-time-bound default values (bits=_Z_BITS stores 8) ride in by value
    assert "default=8" in mat
    # graph family: shared helpers + module constants finger their consumers
    from bangdatapipeline_spark.operators import graph_analytics as ga

    pr = fingerprint_material(registry["graph_pagerank"])
    assert inspect.getsource(ga._trade_edges) in pr
    # memoized builders are walked through their caches.memo wrapper:
    # the wrapped function's own callees stay inside the material
    from bangdatapipeline_spark import tables

    assert inspect.getsource(tables.load_table) in pr
    assert inspect.getsource(ga._node_label) in pr
    assert "_PAGERANK_ITERS=3" in pr
    # list/dict-valued constants must move the hash too (r10 review: a
    # Spark-side-only edit to _FK_RELATIONS or MIX_WEIGHTS went unseen).
    # Mutable containers enter by ASSIGNMENT SOURCE, not value: runtime
    # mutation (memo caches) must not drift the fingerprint, and values
    # holding functions (REGISTRY) must not leak memory addresses.
    mat_fk = fingerprint_material(registry["dq_referential_integrity"])
    assert "_FK_RELATIONS:=_FK_RELATIONS = [" in mat_fk
    # no memory addresses anywhere in any key's material (determinism
    # across processes — refresh subprocess vs live session)
    import re

    for key in ("udtf_expand", "eval_ivf_nprobe_curve", "graph_pagerank"):
        m = fingerprint_material(registry[key])
        assert not re.search(r" at 0x[0-9a-f]+", m), key


def test_green_hashes_recorded_at_a_real_commit():
    """green_hashes.json must cover the registry and carry the evidence
    commit it was computed from (the refresh-at-round-start protocol)."""
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "green_hashes.json")
    with open(path) as f:
        data = json.load(f)
    assert len(data["evidence_sha"]) == 40
    registry = load_all()
    # every recorded key is (or was) a registry key; new keys may be
    # missing (they're tier 1/2 until green, so no hash is needed)
    assert len(set(data["hashes"]) & set(registry)) > 300


def test_sweep_artifact_contract():
    """SWEEP_r{N}.json artifacts must carry the required fields, and the
    LATEST one (highest round) must show a clean full sweep — zero
    failures, smoke ok. Older artifacts keep their honest counts: the
    writer records failures too (ADVICE r9), and a red sweep is fixed by
    re-running clean before round close, not by rewriting history — the
    same latest-entry rule SCALE_LEDGER uses."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(
        glob.glob(os.path.join(root, "SWEEP_r*.json")),
        key=lambda p: int(re.search(r"SWEEP_r(\d+)", p).group(1)),
    )
    assert paths, "no sweep artifacts"
    for path in paths:
        with open(path) as f:
            s = json.load(f)
        assert s["head_sha"], path
        assert {"pass", "fail", "failed", "smoke_ok"} <= set(s), path
    latest = paths[-1]
    with open(latest) as f:
        s = json.load(f)
    assert s["fail"] == 0 and s["failed"] == [], latest
    assert s["smoke_ok"] is True, latest
    assert s["pass"] > 300, latest


def test_tier3_rotates_by_evidence_age(monkeypatch):
    """Within tier 3, a key green in r1 outranks one green in r7 —
    regardless of registry insertion order."""
    keys = list(load_all())
    early, late = keys[-1], keys[0]  # deliberately against insertion order
    green = {k: 7 for k in keys}
    green[early] = 1
    ordered = _ordered_keys(monkeypatch, green, set())
    assert ordered.index(early) < ordered.index(late)
    assert ordered[0] == early


def test_failed_keys_still_outrank_stale_greens(monkeypatch):
    keys = list(load_all())
    green = {k: 1 for k in keys if k != keys[-1]}
    ordered = _ordered_keys(monkeypatch, green, {keys[-1]})
    assert ordered[0] == keys[-1]


def test_never_checked_outranks_green(monkeypatch):
    keys = list(load_all())
    unchecked = keys[len(keys) // 2]
    green = {k: 1 for k in keys if k != unchecked}
    ordered = _ordered_keys(monkeypatch, green, set())
    assert ordered[0] == unchecked


def test_real_history_window_refreshes_oldest_evidence():
    """Against the repo's actual CORRECTNESS history: the head of the
    window must be the keys with the OLDEST latest-green round among
    tier-3 keys (with all keys green, the whole window is tier 3)."""
    green, failed = entry._correctness_history()
    recorded = entry._green_hashes()
    registry = load_all()
    ordered = list(entry._ordered_registry())
    tier3 = [
        k
        for k in ordered
        if k in green
        and k not in failed
        and not (k in recorded and recorded[k] != query_hash(registry[k]))
    ]
    if len(tier3) < 2:
        return  # rotation inert until the registry is mostly green
    ages = [green[k] for k in tier3]
    assert ages == sorted(ages), "tier-3 keys not ordered oldest-green-first"
    # the driver window (50 keys) must actually pick up stale evidence:
    # every key in the head-50 of tier 3 is at least as stale as any key
    # beyond it (implied by sortedness, asserted directly for clarity)
    head = set(tier3[:50])
    if len(tier3) > 50:
        oldest = min(green[k] for k in tier3)
        assert any(green[k] == oldest for k in head)
    assert set(ordered) == set(registry)


def test_evidence_age_bounded():
    """VERDICT r9 task 3: every registry key must have green
    rows+schema+hash evidence — driver CORRECTNESS window or a recorded
    EVIDENCE_LEDGER local run (scripts/evidence_ledger.py, the same
    compare_query gate at sf0.01) — within 4 rounds of the NEWEST
    evidence round on record. The driver's ~50-key window cannot cover
    344 keys (pigeonhole age ~7 rounds), so the per-round burn-down run
    is what keeps this bound; if it slips a round, this test goes red at
    the next round's close. The latest recorded run must also be clean
    (same latest-entry rule as SWEEP / SCALE_LEDGER)."""
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scripts = os.path.join(root, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import evidence_ledger as ev

    latest = ev.evidence_rounds()
    assert latest, "no evidence artifacts found"
    newest = max(latest.values())
    registry = load_all()
    stale = sorted(
        (k for k in registry if latest.get(k, -999) < newest - 4),
        key=lambda k: latest.get(k, -999),
    )
    assert stale == [], f"evidence older than {newest - 4}: {stale[:20]}..."
    entries = ev.load_ledger()
    if entries:
        assert entries[-1]["failed"] == [], entries[-1]["failed"]


def test_sweep_is_fresh_at_current_tree():
    """VERDICT r9 task 2 — atomic round close. The latest SWEEP_r{N}.json
    must certify the operator source that is actually checked out: if
    any path under bangdatapipeline_spark/ or __spark_entry__.py differs
    (committed OR uncommitted) from the sweep's head_sha, the sweep is
    stale and must be re-run before the round closes. This is exactly
    the r9 hole: SWEEP_r09 certified c2c9073 while two later commits
    changed four operator files. scripts/check.sh runs the sweep BEFORE
    pytest so a round-close check.sh pass implies this gate.

    The comparison is CONTENT-addressed (``source_hash`` over the
    operator tree, stamped by driver_sim since r10): a sweep run on a
    dirty-but-final tree stays valid once that content is committed, so
    the gate doesn't force artifact-only follow-up commits. Artifacts
    predating the field fall back to a git diff against head_sha."""
    import glob
    import json
    import os
    import re
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(
        glob.glob(os.path.join(root, "SWEEP_r*.json")),
        key=lambda p: int(re.search(r"SWEEP_r(\d+)", p).group(1)),
    )
    assert paths, "no sweep artifacts"
    with open(paths[-1]) as f:
        latest = json.load(f)
    stale_msg = (
        f"operator source diverged from the latest sweep stamp "
        f"({paths[-1]}): re-run `python scripts/driver_sim.py` at the "
        "current tree before closing the round"
    )
    if "source_hash" in latest:
        scripts = os.path.join(root, "scripts")
        if scripts not in sys.path:
            sys.path.insert(0, scripts)
        import _evidence

        assert _evidence.source_tree_hash(root) == latest["source_hash"], stale_msg
        return
    sha = latest["head_sha"]
    if sha == "unknown":
        return  # no git at sweep time; nothing to compare against
    proc = subprocess.run(
        ["git", "-C", root, "diff", "--quiet", sha, "--",
         "bangdatapipeline_spark", "__spark_entry__.py"],
        capture_output=True,
        timeout=60,
    )
    assert proc.returncode == 0, stale_msg
