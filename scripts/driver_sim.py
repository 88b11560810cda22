"""Simulate the driver's verify pass against __spark_entry__.py.

Mimics the driver faithfully: builds its OWN SparkSession (none of the
engine's configs pre-applied), imports __spark_entry__ through the public
contract, runs t1 smoke (entry on sf0.001, rows>0) and t2 correctness
(every queries() key at sf0.01 vs oracle_sql() via DuckDB, row-count +
schema + order-insensitive value comparison).

Usage: python scripts/driver_sim.py [sf_dir]
Exit code 0 iff everything matches.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from _evidence import oracle_loop, vanilla_session  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Driver-like session: note NO nanosAsLong / timezone configs here —
    # the contract must self-configure.
    spark = vanilla_session("driver-sim")

    import __spark_entry__ as e

    t0 = time.time()
    df = e.entry(spark)
    rows = df.collect()
    smoke_ok = len(rows) > 0
    print(f"t1 smoke: rows={len(rows)} schema={df.schema.simpleString()} "
          f"ok={smoke_ok} ({time.time()-t0:.1f}s)")

    qs = e.queries()
    oracles = e.oracle_sql()
    failed = oracle_loop(spark, sorted(qs), sf_dir)  # t2: every key vs its oracle

    n_hash = len(oracles)
    n_total = len(qs)
    summary = {
        "smoke_ok": smoke_ok,
        "queries": n_total,
        "hash_checked": n_hash,
        "rows_only": n_total - n_hash,
        "failed": failed,
    }
    print(json.dumps(summary))
    _record_evidence(sf_dir, failed, summary)
    return 0 if smoke_ok and not failed else 1


def _record_evidence(sf_dir, failed, summary):
    """Persist the sweep artifact ``SWEEP_r{N}.json`` (VERDICT r8 task 4):
    one file per full sf0.01 sweep — HEAD sha, pass/fail counts, failed
    keys. Closes the blind spot where only the driver's ~50-key window
    was evidenced at each round's HEAD. Only the driver-faithful sf0.01
    sweep writes it: a fast sf0.001 pass is a weaker gate.

    The artifact is written EVEN WHEN THE SWEEP FAILS — an honest red
    record beats no record — and is overwritten by the next clean run.
    tests/test_entry_rotation.py::test_sweep_artifact_contract therefore
    requires only the LATEST round's artifact to be clean (the
    SCALE_LEDGER latest-entry rule): a red sweep turns the suite red
    until a clean re-run at round close, intentionally.

    Deliberately does NOT touch ``scripts/green_hashes.json``: that file
    records each key's fingerprint AS OF THE DRIVER'S LAST GREEN
    EVIDENCE (the previous round's closing commit), so the driver's next
    CORRECTNESS window re-verifies in-round rewrites. Recording CURRENT
    hashes here would erase exactly that staleness signal. Refresh it at
    round start with ``scripts/refresh_green_hashes.py <prev-round-sha>``.
    """
    from _evidence import REPO_ROOT, current_round, head_sha, source_tree_hash

    if not sf_dir.rstrip("/").endswith("sf0.01"):
        return
    sha = head_sha()
    rnd = current_round()
    with open(os.path.join(REPO_ROOT, f"SWEEP_r{rnd:02d}.json"), "w") as f:
        json.dump(
            {
                "head_sha": sha,
                "source_hash": source_tree_hash(),
                "sf_dir": sf_dir,
                "pass": summary["queries"] - len(failed),
                "fail": len(failed),
                "failed": failed,
                "smoke_ok": summary["smoke_ok"],
            },
            f,
            indent=1,
        )


if __name__ == "__main__":
    raise SystemExit(main())
