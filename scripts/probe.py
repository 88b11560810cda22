#!/usr/bin/env python
"""One probe tool for registry keys. Published numbers come from bench.py.

time [--cold] [--runs N] KEY...
    Time keys through bench.py's timing core with the noop sink: one JSON
    line per key, one sample per core call of the fresh-lineage first run
    (cold_s) and the exec, plan and setup medians. --cold calls
    caches.release before each core call.
abba --a-dir A --b-dir B [--rounds R] [--cold] [--runs N] KEY...
    ``time`` on two trees in ABBA order. Both sides run this probe and this
    checkout's bench.py; only the engine (in the driver, and in the Python
    workers, which import from the working directory) comes from each tree.
    A failed probe or a missing key fails the run.
plans [--dir DIR] [KEY...]
    Rewrite docs/PLANS.md's plan-shape table; with KEYs, print their rows;
    with --dir, write their full formatted plans to DIR (never committed).
check [--sf DIR] (--window N | KEY...)
    Check KEYs, or the first N keys of the driver's queries(), against
    their DuckDB oracles in a vanilla session (default sf0.01).

time, abba and plans run at $SPARK_GRAFT_SF_DIR (default sf0.1), as bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DOC = os.path.join(REPO, "docs", "PLANS.md")

# plan node name -> docs/PLANS.md column; plan_shape() matches Python/Arrow
# evaluation and scans by name pattern
_COLUMN_OF = dict(
    Exchange="shuffle", BroadcastExchange="bcast", ReusedExchange="reused",
    SortMergeJoin="SMJ", ShuffledHashJoin="SHJ", BroadcastHashJoin="BHJ",
    BroadcastNestedLoopJoin="BNLJ", CartesianProduct="cartesian",
    WindowGroupLimit="WGL", TakeOrderedAndProject="TOP",
)
COLUMNS = ["shuffle", "bcast", "reused", "SMJ", "SHJ", "BHJ", "BNLJ",
           "cartesian", "python", "WGL", "TOP", "scan"]


def plan_shape(formatted: str) -> dict[str, int]:
    """Node-type counts of an ``explain("formatted")`` text. Each node is
    counted once, from its ``(id) Name`` header in the numbered detail
    block (the tree above that block names every node a second time)."""
    counts = dict.fromkeys(COLUMNS, 0)
    for name in dict(re.findall(r"^\((\d+)\) (\w+)", formatted, re.M)).values():
        col = _COLUMN_OF.get(name) or (
            "python" if re.search("Python|Pandas|Arrow", name)
            else "scan" if name.endswith("Scan") else None
        )
        if col:
            counts[col] += 1
    return counts


def showcase() -> list[tuple[str, str]]:
    """(key, caption) per docs/PLANS.md row. The doc is the showcase list:
    add or re-caption a row there, and ``plans`` refreshes the counts."""
    with open(PLANS_DOC) as f:
        rows = re.findall(r"^\| `(\w+)` \| (.*?) \|", f.read(), re.M)
    return rows or sys.exit(f"no showcase rows in {PLANS_DOC}")


def _plans(spark, sf_dir: str, keys):
    """(key, formatted plan) of fresh DataFrames: the initial plans, before
    AQE re-planning. Caches are released first, so no key shows a substrate
    that an earlier key materialized (AQE-final): key order does not matter."""
    from bangdatapipeline_spark import caches
    from bangdatapipeline_spark.registry import load_all

    registry = load_all()
    for key in keys:
        caches.release(spark)
        df = registry[key].fn(spark, sf_dir)
        yield key, spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")


def plan_rows(spark, sf_dir: str, keys) -> list[str]:
    """docs/PLANS.md rows: key, showcase caption, one count per column."""
    why = dict(showcase())
    rows = []
    for key, plan in _plans(spark, sf_dir, keys):
        c = plan_shape(plan)
        cells = [f"`{key}`", why.get(key, ""), *(str(c[k]) for k in COLUMNS)]
        rows.append("| " + " | ".join(cells) + " |")
    return rows


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def cmd_time(args) -> int:
    # the engine from --tree, imported before bench.py so its imports reuse it
    sys.path.insert(0, args.tree)
    import bangdatapipeline_spark as engine

    del sys.path[0]
    import bench
    from bangdatapipeline_spark import caches
    from bangdatapipeline_spark.registry import load_all
    from bangdatapipeline_spark.session import get_spark

    registry = load_all()
    missing = [k for k in args.keys if k not in registry]
    if missing:
        sys.exit(f"not registered: {missing}")
    spark = get_spark("probe")
    _noop(registry[bench.BENCH_QUERIES[0][1]].fn(spark, SF_DIR))  # JVM warm-up
    for key in args.keys:
        spark.sparkContext.setJobDescription(f"probe:{key}")
        calls = []
        for _ in range(args.runs):
            if args.cold:
                caches.release(spark)
            calls.append(bench._time_query(spark, registry[key].fn, SF_DIR, _noop))
        spark.sparkContext.setJobDescription(None)
        samples = ([round(x, 4) for x in c] for c in zip(*calls))
        print(json.dumps({"key": key, "release": args.cold, "sf_dir": SF_DIR,
                          "engine": os.path.dirname(engine.__file__),
                          **dict(zip(("exec_s", "plan_s", "setup_s", "cold_s"), samples))}),
              flush=True)
    return 0


def cmd_abba(args) -> int:
    samples: dict[tuple[str, str, str], list[float]] = {}
    for r in range(args.rounds):
        for side in "AB" if r % 2 == 0 else "BA":
            tree = os.path.realpath(args.a_dir if side == "A" else args.b_dir)
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "time", "--tree", tree,
                 "--runs", str(args.runs),
                 *(["--cold"] if args.cold else []), *args.keys],
                cwd=tree, capture_output=True, text=True,
            )
            got = {d["key"]: d for d in (json.loads(line) for line in
                   out.stdout.splitlines() if line.startswith("{"))}
            bad = [k for k in args.keys if k not in got or not os.path.realpath(
                got[k]["engine"]).startswith(tree + os.sep)]
            if out.returncode or bad:
                sys.exit(f"[{side}] {tree}: probe exit {out.returncode}, keys "
                         f"missing or from another tree: {bad}\n{out.stderr[-3000:]}")
            for k in args.keys:
                for field in ("cold_s", "exec_s"):
                    samples.setdefault((side, k, field), []).extend(got[k][field])
            print(f"[{side}] " + " ".join(
                f"{k}={statistics.median(got[k]['cold_s']):.3f}" for k in args.keys),
                flush=True)
    for k in args.keys:
        med = {f"{s}_{f}": round(statistics.median(samples[s, k, f]), 4)
               for s in "AB" for f in ("cold_s", "exec_s")}
        print(json.dumps({"key": k, **med, "cold_b_over_a": round(
            med["B_cold_s"] / med["A_cold_s"], 3)}))
    return 0


def cmd_plans(args) -> int:
    from _evidence import source_tree_hash

    from bangdatapipeline_spark.session import get_spark

    spark = get_spark("probe-plans")
    keys = args.keys or [k for k, _ in showcase()]
    if args.dir:
        os.makedirs(args.dir, exist_ok=True)
        for key, plan in _plans(spark, SF_DIR, keys):
            with open(os.path.join(args.dir, f"{key}.txt"), "w") as f:
                f.write(plan)
        return 0
    rows = plan_rows(spark, SF_DIR, keys)
    if args.keys:
        print("\n".join(rows))
        return 0
    sf = os.path.basename(SF_DIR.rstrip("/"))
    doc = f"""# Plan shapes — showcase queries (generated by `scripts/probe.py plans`)

<!-- source_hash: {source_tree_hash()} -->

Initial physical plan, before AQE re-planning, at `{sf}`: nodes per type,
each counted once, including the plans under cached substrates (shuffle =
`Exchange`, python = Python/Arrow evaluation, WGL = `WindowGroupLimit`, TOP =
`TakeOrderedAndProject`). A key that runs jobs while it builds its plan (e.g.
`graph_pagerank`'s supersteps) shows those parts as already executed. Captions
are edited here; regenerate the counts with `python scripts/probe.py plans`, and
get full plans with `python scripts/probe.py plans --dir DIR [KEY...]`.

| key | shape | {" | ".join(COLUMNS)} |
|---|---|{"--:|" * len(COLUMNS)}
"""
    with open(PLANS_DOC, "w") as f:
        f.write(doc + "\n".join(rows) + "\n")
    return 0


def cmd_check(args) -> int:
    if bool(args.window) == bool(args.keys):
        sys.exit("check: give either --window N or KEYs")
    from _evidence import oracle_loop, vanilla_session

    spark = vanilla_session("probe-check")
    if args.window:
        import __spark_entry__ as e

        args.keys = list(e.queries())[: args.window]
    failed = oracle_loop(spark, args.keys, args.sf)
    print(json.dumps({"keys": len(args.keys), "sf_dir": args.sf, "failed": failed}))
    return 1 if failed else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    timing = argparse.ArgumentParser(add_help=False)
    timing.add_argument("--cold", action="store_true")
    timing.add_argument("--runs", type=int, default=1)
    timing.add_argument("keys", nargs="+")
    sub.add_parser("time", parents=[timing]).add_argument("--tree", default=REPO)
    a = sub.add_parser("abba", parents=[timing])
    a.add_argument("--a-dir", required=True)
    a.add_argument("--b-dir", required=True)
    a.add_argument("--rounds", type=int, default=2)
    p = sub.add_parser("plans")
    p.add_argument("--dir")
    p.add_argument("keys", nargs="*")
    c = sub.add_parser("check")
    c.add_argument("--sf", default="/root/testdata/sf0.01")
    c.add_argument("--window", type=int)
    c.add_argument("keys", nargs="*")
    args = ap.parse_args(argv)
    return {"time": cmd_time, "abba": cmd_abba, "plans": cmd_plans,
            "check": cmd_check}[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
