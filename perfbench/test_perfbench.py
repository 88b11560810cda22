"""The benchmark's own tests. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import probe  # noqa: E402
import run  # noqa: E402
import txn  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class _StubEngine:
    spark = None
    t_ready = 0.0
    times = {k: 1.0 for k in ("session.get_spark_s", "registry.load_all_s",
                              "tables.first_load_s")}


def _loop(seed: int = 3) -> workloads.OpLoop:
    return workloads.OpLoop(_StubEngine(), probe.Tracer(False), seed=seed, seconds=1)


def test_every_op_key_is_registered_with_an_oracle():
    from bangdatapipeline_spark.registry import load_all

    reg = load_all()
    for key in workloads.HEADLINE + workloads.SUBSTRATE:
        assert key in reg, key
        assert reg[key].oracle, f"{key} has no DuckDB oracle"


def test_same_seed_same_op_order():
    a, b, c = _loop(), _loop(), _loop(seed=4)
    orders = [[x.order(workloads.HEADLINE) for _ in range(3)] for x in (a, b, c)]
    assert orders[0] == orders[1]
    assert orders[0] != orders[2]
    assert sorted(orders[0][0]) == sorted(workloads.HEADLINE)


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    loop = _loop()
    e2e = run.end_to_end_metrics(loop)
    layers = run.layer_metrics(loop)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert list(layers) == [m["name"] for m in bench["per_layer"]]
    for table, declared in ((e2e, bench["end_to_end"]), (layers, bench["per_layer"])):
        for m in declared:
            assert NAME.fullmatch(m["name"]) and len(m["name"]) <= 64, m["name"]
            assert table[m["name"]][1] == m["unit"], m["name"]
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def test_same_seed_byte_identical_changelogs(tmp_path):
    sf = workloads.sf_dir()
    a = txn.write_changelogs(sf, str(tmp_path / "a"), seed=11, n=3)
    b = txn.write_changelogs(sf, str(tmp_path / "b"), seed=11, n=3)
    c = txn.write_changelogs(sf, str(tmp_path / "c"), seed=12, n=3)
    read = lambda paths: [open(p, "rb").read() for p in paths]  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)


def test_replay_applies_latest_wins_and_deletes(tmp_path):
    import pandas as pd

    state = pd.DataFrame({txn.KEY: [1, 2, 3], "v": [10, 20, 30]}).set_index(txn.KEY)
    cl = pd.DataFrame({
        txn.KEY: [1, 2, 2, 4], "v": [11, 21, 22, 40],
        "is_delete": [True, False, False, False],
        "ts_us": [5, 1, 2, 3], "event_id": [0, 1, 2, 3],
    })
    path = str(tmp_path / "cl.parquet")
    cl.to_parquet(path)
    out = txn.apply_changelog(state, path)
    assert out["v"].to_dict() == {2: 22, 3: 30, 4: 40}


def test_tracer_records_nested_spans():
    tr = probe.Tracer(True)
    with tr.span("op", "1:k"):
        with tr.span("operators.build", "1:k"):
            pass
    assert [(s["name"], s["parent"], s["op"]) for s in tr.spans] == [
        ("op", None, "1:k"),
        ("operators.build", 0, "1:k"),
    ]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = probe.Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_exits_nonzero_without_result_when_engine_is_missing(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline_warm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode not in (0, None)
    assert '"correct"' not in p.stdout
