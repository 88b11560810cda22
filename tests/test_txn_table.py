"""Transactional-table (toy delta-log) tests: atomic commits, file-level
copy-on-write MERGE, idempotent replay (SURVEY.md §2.12 production sink).
"""

from __future__ import annotations

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from bangdatapipeline_spark.sources.txn_table import TxnTable
from bangdatapipeline_spark.tables import load_table

SF = "/root/testdata/sf0.001"


# sf0.001 has user_id 0..14 and c_custkey 0..149; +140 straddles the base
# key boundary so update, delete, insert AND unchanged paths all occur.
_SHIFT = 140


def _changelog(spark):
    """CDC changelog shaped like the merge_cdc_with_deletes family:
    purchases upsert acctbal, errors are tombstones; key shifted to
    straddle the customer key range (see _SHIFT)."""
    ev = load_table(spark, SF, "events")
    return ev.filter(F.col("event_type").isin("purchase", "error")).select(
        (F.col("user_id") + _SHIFT).alias("c_custkey"),
        F.concat(F.lit("cdc-"), F.col("user_id").cast("string")).alias("c_name"),
        F.round("value", 2).alias("c_acctbal"),
        (F.col("event_type") == "error").alias("is_delete"),
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ).alias("ts_us"),
        "event_id",
    )


def _expected_after_merge(spark, base, changelog):
    """Reference MERGE semantics in plain DataFrame algebra."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_custkey").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    latest = (
        changelog.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("n"),
            F.col("c_acctbal").alias("b"),
            "is_delete",
        )
    )
    j = base.join(latest, base.c_custkey == F.col("k"), "full_outer")
    return j.filter(~F.coalesce("is_delete", F.lit(False))).select(
        F.coalesce("k", "c_custkey").alias("c_custkey"),
        F.coalesce("n", "c_name").alias("c_name"),
        F.coalesce("b", "c_acctbal").alias("c_acctbal"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select("c_custkey", "c_name", "c_acctbal").collect())


def test_txn_merge_correct_idempotent_and_file_pruned(spark, tmp_path):
    path = str(tmp_path / "cust_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=8)

    assert _rows(t.read()) == _rows(base)
    pre_snapshot = {e["path"]: e for e in t.snapshot()}

    changelog = _changelog(spark)
    stats = t.merge_cdc(changelog, app_id="cdc-pipe", version=1)
    assert not stats["skipped"]
    want = _rows(_expected_after_merge(spark, base, changelog))
    assert _rows(t.read()) == want

    # merge semantics actually exercised all three mutation paths
    base_keys = {r[0] for r in base.select("c_custkey").collect()}
    got_keys = {r[0] for r in t.read().select("c_custkey").collect()}
    assert got_keys - base_keys, "no inserts happened"
    assert base_keys - got_keys, "no deletes happened"

    # file-level copy-on-write: untouched buckets' files carry over by
    # reference — their exact paths survive the commit
    post_snapshot = {e["path"]: e for e in t.snapshot()}
    touched = set(stats["touched_buckets"])
    carried = {
        p for p, e in pre_snapshot.items() if e["bucket"] not in touched
    }
    assert stats["files_carried"] == len(carried)
    assert carried <= set(post_snapshot), "untouched files were rewritten"
    if touched != set(range(8)):
        assert carried, "pruning never applied (all buckets touched)"

    # idempotent replay: same (app_id, version) is a no-op
    n_commits = len(t._commits())
    stats2 = t.merge_cdc(changelog, app_id="cdc-pipe", version=1)
    assert stats2["skipped"]
    assert len(t._commits()) == n_commits
    assert {e["path"] for e in t.snapshot()} == set(post_snapshot)
    assert _rows(t.read()) == want

    # a LOWER version (late replay of an old batch) is also a no-op
    assert t.merge_cdc(changelog, app_id="cdc-pipe", version=0)["skipped"]
    # a different app's version counter is independent
    assert t.last_txn_version("other-app") is None

    # file-level pruning, forced: a single-key delta touches exactly one
    # bucket, so every other bucket's files must carry over by reference
    one_key = changelog.filter(F.col("c_custkey") == _SHIFT)
    before = {e["path"] for e in t.snapshot()}
    stats3 = t.merge_cdc(one_key, app_id="cdc-pipe", version=2)
    assert not stats3["skipped"]
    assert len(stats3["touched_buckets"]) == 1
    assert stats3["files_carried"] > 0
    after = {e["path"] for e in t.snapshot()}
    carried_now = {
        e["path"]
        for e in t.snapshot()
        if e["bucket"] not in set(stats3["touched_buckets"])
    }
    assert carried_now and carried_now <= before, (
        "untouched buckets were rewritten by a single-key merge"
    )
    assert after != before


def test_txn_uncommitted_files_are_invisible(spark, tmp_path):
    """Crash between data write and commit: orphan data files must not be
    visible to readers (the log, not the directory, defines the table)."""
    path = str(tmp_path / "orphan_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)
    before = _rows(t.read())

    # simulate a writer that died after writing data, before committing
    orphan = os.path.join(path, "data", "txn-99999999-deadbeef", "_bucket=0")
    os.makedirs(orphan)
    base.limit(5).write.mode("overwrite").parquet(os.path.join(orphan, "part"))

    assert _rows(t.read()) == before
    shutil.rmtree(os.path.join(path, "data", "txn-99999999-deadbeef"))


def test_txn_sequential_merges_advance_versions(spark, tmp_path):
    """Two different batches (version 1 then 2) both apply; replaying
    batch 1 after batch 2 is rejected by the txn stamp."""
    path = str(tmp_path / "seq_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)

    ch = _changelog(spark)
    # split by TIME, not arbitrarily: MERGE is last-batch-wins, so the
    # composition equals the one-shot merge only when batch order agrees
    # with the (ts_us, event_id) change order per key — which a time
    # split guarantees and e.g. an event_id-parity split would not.
    lo, hi = ch.agg(F.min("ts_us"), F.max("ts_us")).first()
    mid = (lo + hi) // 2
    first = ch.filter(F.col("ts_us") <= mid)
    second = ch.filter(F.col("ts_us") > mid)
    assert first.count() > 0 and second.count() > 0

    assert not t.merge_cdc(first, app_id="pipe", version=1)["skipped"]
    assert not t.merge_cdc(second, app_id="pipe", version=2)["skipped"]
    assert t.last_txn_version("pipe") == 2
    assert t.merge_cdc(first, app_id="pipe", version=1)["skipped"]

    # end state equals applying the full changelog at once to the base
    want = _rows(_expected_after_merge(spark, base, ch))
    assert _rows(t.read()) == want


def test_txn_time_travel_compact_vacuum(spark, tmp_path):
    """Time travel reads any log prefix; OPTIMIZE compacts to one file
    per bucket without changing rows (and is a no-op when already
    compact); VACUUM physically reclaims files outside the retention
    horizon, including uncommitted orphans, while the current snapshot
    stays readable."""
    path = str(tmp_path / "tt_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    # multi-partition source: the zero-shuffle CREATE ingest then writes
    # several files per bucket — the fragmentation OPTIMIZE exists for
    t = TxnTable.create(
        spark, path, base.repartition(5), key_col="c_custkey", n_buckets=4
    )
    v0_rows = _rows(t.read())

    # the zero-shuffle ingest left several files per bucket — exactly the
    # fragmentation OPTIMIZE exists for
    pre = t.snapshot()
    assert any(
        sum(1 for e in pre if e["bucket"] == b) > 1 for b in range(4)
    ), "multi-partition ingest produced no fragmentation"
    stats = t.compact()
    assert not stats["skipped"]
    assert _rows(t.read()) == v0_rows
    per_bucket = {}
    for e in t.snapshot():
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values()), per_bucket
    assert t.compact()["skipped"]  # idempotent: already compact

    ch = _changelog(spark)
    lo, hi = ch.agg(F.min("ts_us"), F.max("ts_us")).first()
    mid = (lo + hi) // 2
    t.merge_cdc(ch.filter(F.col("ts_us") <= mid), app_id="p", version=1)
    v1_rows = _rows(t.read())
    t.merge_cdc(ch.filter(F.col("ts_us") > mid), app_id="p", version=2)
    v2_rows = _rows(t.read())

    # time travel: every log prefix is still readable — the fragmented
    # ingest (v0), the compacted twin (v1), and the first merge (v2)
    assert _rows(t.read(at_version=0)) == v0_rows
    assert _rows(t.read(at_version=1)) == v0_rows
    assert _rows(t.read(at_version=2)) == v1_rows
    assert v0_rows != v1_rows != v2_rows

    # VACUUM: reclaim everything outside the latest snapshot (+ orphans)
    orphan_dir = os.path.join(path, "data", "txn-77777777-orphan", "_bucket=0")
    os.makedirs(orphan_dir)
    base.limit(3).write.mode("overwrite").parquet(os.path.join(orphan_dir, "p"))
    live = {e["path"] for e in t.snapshot()}
    # min_age_seconds=0: this test IS the no-concurrent-writer window
    res = t.vacuum(retain_last=1, min_age_seconds=0)
    assert res["files_deleted"] > 0
    data_root = os.path.join(path, "data")
    remaining = {
        os.path.relpath(os.path.join(dp, f), data_root)
        for dp, _, fs in os.walk(data_root)
        for f in fs
        if f.endswith(".parquet")
    }
    assert remaining == live, "vacuum kept non-live or deleted live files"
    assert _rows(t.read()) == v2_rows

    # retention interplay: versions older than the horizon still replay
    # from the log but their files are gone — the read must fail with the
    # retention story, not a deep Spark PATH_NOT_FOUND
    with pytest.raises(ValueError, match="reclaimed by vacuum"):
        t.read(at_version=0)
    with pytest.raises(ValueError, match="time travel is bounded"):
        t.read(at_version=1)


def test_txn_concurrent_commit_one_winner_loser_retries(spark, tmp_path):
    """Two writers race the same log version: exactly one commit wins (the
    winner's content is untouched — no silent rename-replace), the loser
    gets the conflict error and retries cleanly on a fresh snapshot."""
    path = str(tmp_path / "race_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    t1 = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)
    t2 = TxnTable(spark, path)  # second writer handle on the same table

    ch = _changelog(spark)
    # both writers read the same snapshot, then interleave: t1 lands its
    # merge first, so when t2 tries to claim the same log version the
    # exclusive-create publish must fail it — NOT silently replace t1's
    # committed add/remove entries
    next_v = len(t1._commits())
    stats1 = t1.merge_cdc(ch, app_id="writer-1", version=1)
    assert not stats1["skipped"]
    winner = json.load(open(os.path.join(path, "_txn_log", f"{next_v:08d}.json")))
    assert winner["txn"]["app_id"] == "writer-1"

    # t2 had staged its own commit for next_v concurrently
    loser_commit = {
        "version": next_v,
        "op": "MERGE_CDC",
        "txn": {"app_id": "writer-2", "version": 1},
        "add": [],
        "remove": [],
    }
    import pytest

    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t2._write_commit(loser_commit)

    # winner's commit file is byte-for-byte intact (no replace happened)
    after = json.load(open(os.path.join(path, "_txn_log", f"{next_v:08d}.json")))
    assert after == winner
    # no stray .tmp staging files leak into the log dir
    assert not [
        n for n in os.listdir(os.path.join(path, "_txn_log")) if ".tmp-" in n
    ]

    # loser retries on a fresh snapshot: merge_cdc recomputes the next
    # version and commits cleanly on top of the winner
    stats2 = t2.merge_cdc(
        ch.filter(F.col("c_custkey") == _SHIFT), app_id="writer-2", version=1
    )
    assert not stats2["skipped"]
    assert t2.last_txn_version("writer-1") == 1
    assert t2.last_txn_version("writer-2") == 1
    assert len(t2._commits()) == next_v + 2


def test_txn_vacuum_spares_young_files(spark, tmp_path):
    """The retention horizon: files younger than min_age_seconds are NOT
    deleted even when unreferenced — they may belong to an in-flight
    writer that has staged data but not yet committed."""
    path = str(tmp_path / "young_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)

    # an in-flight writer: data staged seconds ago, commit not yet written
    staged_dir = os.path.join(path, "data", "txn-55555555-inflight", "_bucket=0")
    os.makedirs(staged_dir)
    base.limit(3).write.mode("overwrite").parquet(os.path.join(staged_dir, "p"))

    res = t.vacuum(retain_last=1)  # default horizon (1h) spares everything young
    assert res["files_deleted"] == 0
    assert res["skipped_young"] > 0
    assert os.path.isdir(staged_dir), "in-flight writer's staging dir was swept"

    # once past the horizon (simulated by backdating mtimes) the same
    # orphans ARE reclaimed
    for dp, _, fs in os.walk(os.path.join(path, "data", "txn-55555555-inflight")):
        for f in fs:
            os.utime(os.path.join(dp, f), (0, 0))
    res2 = t.vacuum(retain_last=1)
    assert res2["files_deleted"] > 0
    assert not os.path.exists(os.path.join(path, "data", "txn-55555555-inflight"))
    # the live snapshot is untouched either way
    assert _rows(t.read()) == _rows(base)


def test_txn_merge_schema_mismatch_raises(spark, tmp_path):
    """merge_cdc validates the changelog against the schema pinned at
    CREATE: a missing column, an extra column, or a retyped column raises
    instead of silently rewriting touched buckets narrower/wider."""
    import pytest

    path = str(tmp_path / "schema_table")
    base = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)
    ch = _changelog(spark)

    with pytest.raises(ValueError, match="missing=\\['c_acctbal'\\]"):
        t.merge_cdc(ch.drop("c_acctbal"), app_id="p", version=1)
    with pytest.raises(ValueError, match="extra=\\['c_extra'\\]"):
        t.merge_cdc(ch.withColumn("c_extra", F.lit(1)), app_id="p", version=1)
    with pytest.raises(ValueError, match="retyped=.*c_acctbal"):
        t.merge_cdc(
            ch.withColumn("c_acctbal", F.col("c_acctbal").cast("string")),
            app_id="p",
            version=1,
        )
    # nothing committed by the rejected merges; a valid merge still lands
    assert len(t._commits()) == 1
    assert not t.merge_cdc(ch, app_id="p", version=1)["skipped"]


def test_txn_pre_schema_pinning_table_still_merges(spark, tmp_path):
    """A table whose CREATE commit predates schema pinning (no "schema"
    key) must keep merging — the gate is skipped, not a KeyError on
    every future merge with no migration path."""
    path = str(tmp_path / "legacy_table")
    base = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)

    # simulate the legacy on-disk format: strip the schema key from the
    # CREATE commit in place
    create_path = os.path.join(t.log_dir, "00000000.json")
    with open(create_path) as f:
        commit = json.load(f)
    del commit["schema"]
    with open(create_path, "w") as f:
        json.dump(commit, f)

    legacy = TxnTable(spark, path)
    assert legacy._schema() is None
    ch = _changelog(spark)
    stats = legacy.merge_cdc(ch, app_id="p", version=1)
    assert not stats.get("skipped")
    expected = _expected_after_merge(spark, base, ch)
    got = legacy.read().select("c_custkey", "c_name", "c_acctbal")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_merge_cdc_null_update_clears_field(spark, tmp_path):
    """r11 review: latest-wins is WHOLESALE row replacement — a CDC
    update carrying NULL for a column must CLEAR it (the source system
    nulled the field). Per-column coalesce kept the stale value forever,
    and the idempotent replay never fixed it."""
    path = str(tmp_path / "null_clear_table")
    base = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)
    ch = spark.createDataFrame(
        [(5, None, 77.25, False, 1_000_000, 1)],
        "c_custkey bigint, c_name string, c_acctbal double, "
        "is_delete boolean, ts_us bigint, event_id bigint",
    )
    assert not t.merge_cdc(ch, app_id="nuller", version=1)["skipped"]
    row = t.read().filter(F.col("c_custkey") == 5).collect()
    assert len(row) == 1
    assert row[0]["c_name"] is None, "NULL update must clear the field"
    assert row[0]["c_acctbal"] == 77.25


def test_merge_cdc_version_pinned_at_snapshot_read(spark, tmp_path, monkeypatch):
    """r11 review (lost-update race): a commit landing between a merge's
    snapshot read and its publish must make the merge FAIL with the
    concurrency conflict — the old code re-listed the log after the
    snapshot, claimed the next FREE version slot, and silently
    overwrote the concurrent writer's files."""
    path = str(tmp_path / "race_pin_table")
    base = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=4)

    orig_snapshot = TxnTable.snapshot

    def snapshot_then_concurrent_commit(self, at_version=None, commits=None):
        out = orig_snapshot(self, at_version=at_version, commits=commits)
        # a second writer lands a commit right after our snapshot read
        v = len(self._commits())
        self._write_commit(
            {"version": v, "op": "OTHER_WRITER", "add": [], "remove": []}
        )
        monkeypatch.setattr(TxnTable, "snapshot", orig_snapshot)  # fire once
        return out

    monkeypatch.setattr(TxnTable, "snapshot", snapshot_then_concurrent_commit)
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t.merge_cdc(_changelog(spark), app_id="racer", version=1)


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _eight_key_changelog(spark, path):
    """Eight distinct keys: six updates, one delete, one insert, one key
    named twice (the shape of a small CDC micro-batch), read back from a
    parquet file so the planner sees its size."""
    rows = [(k, f"upd-{k}", float(k), False, 1_000 + k, k) for k in range(1, 7)]
    rows += [
        (7, "gone", 0.0, True, 1_007, 7),
        (10**9, "new", 1.5, False, 1_008, 8),
        (3, "upd-3-later", 33.0, False, 2_000, 9),
    ]
    spark.createDataFrame(
        rows,
        "c_custkey bigint, c_name string, c_acctbal double, "
        "is_delete boolean, ts_us bigint, event_id bigint",
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_merge_cdc_small_merge_plan_shape(spark, tmp_path, monkeypatch):
    """A small merge persists nothing, windows the changelog once (one
    key-hashed shuffle of it) and leaves the anti-join strategy to the
    planner: broadcast at this size, sort-merge when broadcasting is off."""
    path = str(tmp_path / "plan_table")
    base = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=8)
    ch = _eight_key_changelog(spark, str(tmp_path / "changelog"))
    frames = []  # the DataFrame each data-file write is given
    write_files = TxnTable._write_data_files

    def capture(self, df, version, pack=True):
        frames.append(df)
        return write_files(self, df, version, pack=pack)

    monkeypatch.setattr(TxnTable, "_write_data_files", capture)

    before = _persisted_rdd_ids(spark)
    assert not t.merge_cdc(ch, app_id="p", version=1)["skipped"]
    assert _persisted_rdd_ids(spark) == before, "merge left a persisted RDD"
    assert _rows(t.read()) == _rows(_expected_after_merge(spark, base, ch))

    (write,) = frames
    qe = write._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    # one window over the changelog, and its exchange is the only
    # shuffle: the broadcast anti-join leaves the table side unshuffled
    assert plan.count("Window [") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange hashpartitioning(c_custkey" in plan, plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan, plan
    assert "broadcast" not in qe.optimizedPlan().toString().lower(), (
        "forced broadcast hint in the merge plan"
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t.merge_cdc(ch.filter(F.col("c_custkey") < 4), app_id="p", version=2)
        plan = frames[-1]._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan, plan


def test_merge_cdc_edge_cases_match_reference(spark, tmp_path):
    """NULL keys on both sides, a delete of a key the table lacks, a key
    named twice whose latest row is a delete, and a changelog that
    deletes every row of one bucket all land as the reference MERGE."""
    path = str(tmp_path / "edge_table")
    cust = load_table(spark, SF, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    base = cust.unionByName(
        spark.createDataFrame([(None, "null-base", 3.5)], cust.schema)
    )
    n_buckets = 8
    t = TxnTable.create(spark, path, base, key_col="c_custkey", n_buckets=n_buckets)
    bucket_of = TxnTable._bucket_expr("c_custkey", n_buckets)
    null_bucket = (
        spark.createDataFrame([(None,)], "c_custkey bigint")
        .select(bucket_of)
        .first()[0]
    )
    emptied = next(b for b in range(n_buckets) if b != null_bucket)
    bucket_keys = [
        r[0]
        for r in cust.filter(bucket_of == emptied).select("c_custkey").collect()
    ]
    assert bucket_keys

    rows = [(k, "del", 0.0, True, 10, k) for k in bucket_keys]
    other = next(
        r[0]
        for r in cust.filter(bucket_of != emptied).select("c_custkey").collect()
    )
    rows += [
        (None, "null-new", 9.25, False, 20, 1),  # NULL key: an insert
        (10**12, "never", 0.0, True, 20, 2),  # delete of an absent key
        (other, "first", 1.0, False, 30, 3),  # named twice ...
        (other, "then-del", 2.0, True, 31, 4),  # ... latest is a delete
    ]
    ch = spark.createDataFrame(
        rows,
        "c_custkey bigint, c_name string, c_acctbal double, "
        "is_delete boolean, ts_us bigint, event_id bigint",
    )
    stats = t.merge_cdc(ch, app_id="edge", version=1)
    assert emptied in stats["touched_buckets"]
    assert not [e for e in t.snapshot() if e["bucket"] == emptied]

    got = t.read().select("c_custkey", "c_name", "c_acctbal")
    want = _expected_after_merge(spark, base, ch)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.filter(F.col("c_custkey").isNull()).count() == 2
    assert got.filter(F.col("c_custkey") == other).count() == 0
