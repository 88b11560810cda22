#!/bin/sh -e
# Full pre-submission gate (round-close order matters — VERDICT r9 task 2):
#   1. the driver-faithful correctness sweeps at TWO scale factors
#      (sf0.001 catches scale-dependent bugs the sf0.01 gate misses —
#      empty groups, round-half percentile boundaries); the sf0.01 sweep
#      STAMPS SWEEP_r{N}.json at the current HEAD,
#   2. the full test suite — which includes the sweep-freshness ratchet
#      (test_sweep_is_fresh_at_current_tree): it fails if operator source
#      diverged from the latest sweep stamp, so running the sweep FIRST
#      makes a check.sh pass certify "suite green AND sweep at HEAD",
#   3. the evidence-age status gate (every key green within 4 rounds),
#   4. the bench line (run LAST and solo — CPU contention distorts it).
# Run this on a CLEAN committed tree: the sweep stamps git HEAD.
cd "$(dirname "$0")/.."
python scripts/driver_sim.py /root/testdata/sf0.001
python scripts/driver_sim.py
# regenerate the plan-shape doc at the tree the sweep just certified —
# the suite's PLANS.md freshness gate (tests/test_plans.py) compares its
# source_hash stamp against the live tree, same ratchet as the sweep's.
# Skipped when the stamp already matches (the md5 probe is cheap; the
# regeneration is a Spark session planning 40+ showcase keys).
python - <<'PYEOF' || python scripts/probe.py plans
import re, sys
sys.path.insert(0, "scripts")
from _evidence import source_tree_hash
m = re.search(r"<!-- source_hash: ([0-9a-f]{32}) -->",
              open("docs/PLANS.md").read(4096))
sys.exit(0 if m and m.group(1) == source_tree_hash() else 1)
PYEOF
python -m pytest tests/ -x -q
# the benchmark's own tests (no Spark, ~4 s), incl. the op-key/oracle registry check
python -m pytest perfbench -q
python scripts/evidence_ledger.py --status
python bench.py
