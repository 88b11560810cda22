#!/usr/bin/env python
"""Evidence-age burn-down (VERDICT r9 task 3).

The driver's CORRECTNESS window re-verifies ~50 keys per round; with 344
registered keys, pigeonhole makes the oldest driver evidence drift many
rounds stale even when nothing changed. This script closes the gap with
RECORDED local t2-faithful runs: it computes each key's latest green
evidence round across BOTH sources —

  * ``CORRECTNESS_r{N}.json``  (driver-run, rows+schema+hash at sf0.01)
  * ``EVIDENCE_LEDGER.jsonl``  (this script's own recorded runs — the
    same ``tests.oracle.compare_query`` gate at sf0.01)

— then re-verifies every key whose evidence is older than ``--max-age``
rounds (default 4) and APPENDS one JSON line to EVIDENCE_LEDGER.jsonl:
round, HEAD sha, sf_dir, the keys checked, and any failures. The
contract test (tests/test_entry_rotation.py) requires every registry
key's evidence age <= 4 relative to the newest round either artifact
records, so the burn-down cannot silently slip a round.

Usage:
    python scripts/evidence_ledger.py [--status] [--max-age N]
                                      [--limit N] [--sf dir]

``--status`` prints the age histogram and the over-age key list without
running anything. ``--limit`` caps a run's key count (oldest first) for
incremental burn-down. Exit 0 iff nothing is over-age after the run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _evidence import (  # noqa: E402
    REPO_ROOT, current_round, head_sha, oracle_loop, vanilla_session,
)

LEDGER_PATH = os.path.join(REPO_ROOT, "EVIDENCE_LEDGER.jsonl")


def evidence_rounds(root: str = REPO_ROOT) -> dict[str, int]:
    """{key: latest round with green rows+schema+hash evidence}, from
    driver CORRECTNESS files and recorded EVIDENCE_LEDGER runs."""
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):].split(".")[0])
        with open(path) as f:
            rows = json.load(f)
        for key, r in rows.items():
            ok = (
                r.get("err") is None
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match", True)
            )
            if ok and rnd > latest.get(key, -1):
                latest[key] = rnd
    for entry in load_ledger(root):
        rnd = entry["round"]
        for key in entry["keys"]:
            if key not in entry["failed"] and rnd > latest.get(key, -1):
                latest[key] = rnd
    return latest


def load_ledger(root: str = REPO_ROOT) -> list[dict]:
    path = os.path.join(root, "EVIDENCE_LEDGER.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def over_age_keys(
    max_age: int, root: str = REPO_ROOT, latest: dict[str, int] | None = None
) -> list[str]:
    """Registry keys whose latest evidence is more than ``max_age``
    rounds old (or absent), oldest first. Age is measured against the
    IN-PROGRESS round (one past the newest CORRECTNESS file), matching
    what this round's run will stamp. Pass a precomputed
    ``evidence_rounds()`` mapping to avoid re-parsing every artifact."""
    from bangdatapipeline_spark.registry import load_all

    rnd = current_round(root)
    if latest is None:
        latest = evidence_rounds(root)
    stale = [
        k for k in load_all()
        if rnd - latest.get(k, rnd - 999) > max_age
    ]
    return sorted(stale, key=lambda k: latest.get(k, -1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--status", action="store_true")
    ap.add_argument("--max-age", type=int, default=4)
    ap.add_argument("--limit", type=int, default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--rewritten",
        action="store_true",
        help="check every tier-0 key (current fingerprint differs from "
        "green_hashes) instead of the over-age set — run at round close "
        "when the round's rewrite count exceeds the driver's ~50-key "
        "window, so overflow rewrites still get RECORDED t2-faithful "
        "evidence at HEAD instead of shipping on stale greens",
    )
    args = ap.parse_args()

    latest = evidence_rounds()
    if args.rewritten:
        from _evidence import load_green_hashes

        from bangdatapipeline_spark.registry import load_all, query_hash

        recorded = load_green_hashes()
        registry = load_all()
        stale = sorted(
            k for k in registry
            if k in recorded and recorded[k] != query_hash(registry[k])
        )
    else:
        stale = over_age_keys(args.max_age, latest=latest)
    if args.status:
        from bangdatapipeline_spark.registry import load_all

        rnd = current_round()
        hist: dict[int, int] = {}
        for k in load_all():
            age = rnd - latest.get(k, -989)
            hist[age] = hist.get(age, 0) + 1
        print(json.dumps({
            "round": rnd,
            "age_histogram": dict(sorted(hist.items())),
            "over_age": stale,
        }))
        return 0 if not stale else 1

    keys = stale[: args.limit] if args.limit else stale
    if not keys:
        print(json.dumps({"checked": 0, "failed": [], "over_age_left": []}))
        return 0

    # vanilla session, like the driver
    failed = oracle_loop(vanilla_session("evidence-ledger"), keys, args.sf)

    entry = {
        "round": current_round(),
        "head_sha": head_sha(),
        "sf_dir": args.sf,
        "keys": keys,
        "failed": failed,
    }
    with open(LEDGER_PATH, "a") as f:
        f.write(json.dumps(entry) + "\n")
    left = over_age_keys(args.max_age)  # re-reads: the ledger just grew
    print(json.dumps({"checked": len(keys), "failed": failed,
                      "over_age_left": left}))
    return 0 if not failed and not left else 1


if __name__ == "__main__":
    raise SystemExit(main())
