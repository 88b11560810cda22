"""Correctness of every op the benchmark runs, checked after the run.

A registry op's result is reduced to ``(rows, digest)``: the row count
and a sha256 over the sorted column names and the order-insensitive
canonical rows of ``tests/oracle.py`` (the repository's own
DuckDB-oracle comparison, imported read-only). The reference is the
key's registry oracle, run fresh on DuckDB over the same parquet files.

The transactional step is checked against a pandas replay of the base
table plus the changelogs the run merged (``txn.py``).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import math
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

import pandas as pd
import pyarrow.parquet as pq

import txn

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.lru_cache(maxsize=None)
def oracle():
    """``tests/oracle.py`` loaded by path: ``tests`` is not a package, and
    a site-packages module of that name must not shadow it."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_oracle", os.path.join(ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(pdf) -> str:
    """Digest of a result frame (Spark's or DuckDB's)."""
    pdf.columns = [str(c).lower() for c in pdf.columns]
    bad = oracle()._non_scalar_cols(pdf)
    if bad:
        raise ValueError(f"non-scalar result columns: {bad}")
    rows = oracle().canonical_rows(pdf)
    return hashlib.sha256(json.dumps([sorted(pdf.columns), rows]).encode()).hexdigest()[:16]


def _wrong(what: str, got, want) -> int:
    print(f"perfbench: {what} is wrong: {got} != expected {want}", file=sys.stderr)
    return 1


def _oracle_answer(sf_dir: str, sql: str) -> tuple[int, str]:
    con = oracle().duck_con(sf_dir)
    try:
        pdf = con.execute(sql).fetchdf()
    finally:
        con.close()
    return len(pdf), digest(pdf)


def _result(future, what: str):
    try:
        return future.result()
    except ValueError as e:  # a non-scalar result column
        return f"{what}: {e}"


def check_ops(registry, sf_dir: str, results, workers: int) -> int:
    """Mismatches among ``(key, rows, frame)`` results: each key's oracle
    runs once on DuckDB; a result without a frame is compared by row
    count. Oracles and digests run in ``workers`` processes."""
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(workers, mp_context=ctx) as pool:
        keys = sorted({key for key, _, _ in results})
        want = {k: pool.submit(_oracle_answer, sf_dir, registry[k].oracle) for k in keys}
        got = [(key, rows, None if pdf is None else pool.submit(digest, pdf))
               for key, rows, pdf in results]
        want = {k: _result(f, k) for k, f in want.items()}
        bad = 0
        for key, rows, fut in got:
            dig = want[key][1] if fut is None else _result(fut, key)
            if (rows, dig) != want[key]:
                bad += _wrong(key, (rows, dig), want[key])
    return bad


def _same_read(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        got[s][0] == want[s][0] and math.isclose(got[s][1], want[s][1], rel_tol=1e-9)
        for s in want
    )


def check_txn(step, sf_dir: str) -> int:
    """Mismatches of the transactional step against the pandas replay:
    every read's per-status row counts and price sums at the number of
    merges before it, and the final snapshot row by row."""
    states = [txn.base_state(sf_dir)]
    for path in step.merged:
        states.append(txn.apply_changelog(states[-1], path))
    bad = 0
    for n, got in step.reads:
        want = txn.read_result(states[n])
        if not _same_read(got, want):
            bad += _wrong(f"read after {n} merges", got, want)
    if not step.final_files:
        return bad + _wrong("final snapshot", "no files", f"{len(states[-1])} rows")
    want = states[-1]
    got = pd.concat([pq.ParquetFile(f).read().to_pandas() for f in step.final_files])
    got = got.set_index(txn.KEY).sort_index()[list(want.columns)]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        bad += _wrong("final snapshot", f"{len(got)} rows", f"{len(want)} rows: {e}")
    return bad
