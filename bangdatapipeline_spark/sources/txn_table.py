"""A minimal transaction-log table format over parquet — the ACID sink
the CDC/MERGE family (`merge_cdc_upsert`, `merge_cdc_with_deletes`,
`scd2_ranges`) targets in production.

Miniature of the public Delta/Iceberg design, built only on parquet +
JSON manifests:

  <table>/
    data/txn-00000000-<uuid>/_bucket=K/part-*.parquet   immutable data files
    _txn_log/00000000.json, 00000001.json, ...          ordered commits

Each commit is one JSON document listing the data files it ADDS and
REMOVES plus an application transaction stamp ``{"app_id", "version"}``.
The live file set of the table is the log replay (adds minus removes) —
readers never list ``data/`` directly, so a crash between data-file write
and commit leaves invisible orphans, not corruption (the commit file is
staged and published with an exclusive ``os.link`` — atomic, and EEXIST
when another writer already claimed the version, so racing writers
resolve to exactly one winner).

MERGE is copy-on-write at FILE granularity, which is what makes it an
O(changed-data) operation instead of O(table):

  * the table is hash-bucketed on the merge key (``_bucket =
    pmod(xxhash64(key), n_buckets)`` as a partition directory), so every
    key lives in exactly one bucket's files;
  * a merge computes the DISTINCT buckets its changelog touches (at most
    ``n_buckets`` values — a bounded metadata aggregate, like the commit
    protocol itself), reads ONLY those buckets' live files, applies
    latest-wins upserts + tombstone deletes, and rewrites ONLY those
    buckets; untouched buckets' files carry over by reference.

A merge runs two Spark actions plus the commit, and persists nothing:

  1. the touched buckets, from the RAW changelog keys (latest-wins keeps
     one row per key, so the compacted key set is the raw one);
  2. the write: the touched buckets' rows LEFT ANTI JOIN the raw
     changelog keys, UNION the changelog's latest row per key minus the
     deletes, repartitioned by bucket. The latest-wins window is the
     plan's only window over the changelog. The planner picks the
     anti-join: a broadcast of a small changelog's keys leaves the table
     side unshuffled until the write; a large changelog sort-merges.

Reads pass the schema pinned by the CREATE commit to the parquet scan,
so no read pays a schema-inference job.

Idempotent replay — the property the streaming sinks' ``v{batch_id}``
contract approximates — is exact here: a merge carries an ``(app_id,
version)`` stamp, and re-running a merge whose version is already
committed for that app is a no-op (Delta's ``txn`` action). A
foreachBatch body calling ``merge_cdc(..., version=batch_id)`` is
therefore exactly-once end to end regardless of micro-batch replays.

At 100 TB the same layout maps 1:1 onto a cluster: data files on object
storage, the log on a strongly-consistent store, buckets sized so a
merge rewrite is a few files per touched bucket. The only driver-side
work is manifest bookkeeping (file lists, touched-bucket ids) — never
row data.
"""

from __future__ import annotations

import json
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"


class TxnTable:
    """Handle on a transactional parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)

    # ------------------------------------------------------------------
    # log plumbing
    # ------------------------------------------------------------------
    def _commits(self) -> list[dict]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.log_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.log_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def _write_commit(self, commit: dict) -> None:
        """Stage + exclusive-create publish: the commit becomes visible via
        ``os.link(tmp, final)``, which atomically FAILS with EEXIST when
        another writer already published that version — unlike
        ``os.rename``, which silently replaces on POSIX and would lose the
        first writer's add/remove entries. Optimistic concurrency: the
        loser gets a RuntimeError and retries on a fresh snapshot."""
        os.makedirs(self.log_dir, exist_ok=True)
        final = os.path.join(self.log_dir, f"{commit['version']:08d}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(commit, f, indent=1, sort_keys=True)
        try:
            os.link(tmp, final)  # atomic publish; EEXIST = lost the race
        except FileExistsError:
            raise RuntimeError(
                f"concurrent commit conflict at version {commit['version']}: "
                "another writer committed first; retry on a fresh snapshot"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def snapshot(
        self,
        at_version: int | None = None,
        commits: list[dict] | None = None,
    ) -> list[dict]:
        """Live file entries (each ``{"path", "bucket"}``) = log replay.

        ``at_version`` replays only commits <= that version — time-travel
        (`SELECT ... VERSION AS OF v`): any historical snapshot is just a
        shorter log prefix, readable for free as long as its files have
        not been vacuumed.

        ``commits`` replays an already-listed log. Writers MUST pass the
        same listing they derive their commit version from (r11 review):
        re-listing the log after reading the snapshot let a commit that
        landed in between claim a FREE version slot, so ``os.link``
        succeeded and the concurrent writer's files were silently
        overwritten — a lost update the exclusive-create was built to
        prevent. One listing per operation also bounds log parsing to
        O(commits) per op instead of O(commits) per accessor call.
        """
        live: dict[str, dict] = {}
        for commit in commits if commits is not None else self._commits():
            if at_version is not None and commit["version"] > at_version:
                break
            for entry in commit.get("add", []):
                live[entry["path"]] = entry
            for rel in commit.get("remove", []):
                live.pop(rel, None)
        return sorted(live.values(), key=lambda e: e["path"])

    def last_txn_version(
        self, app_id: str, commits: list[dict] | None = None
    ) -> int | None:
        """Highest committed application-transaction version for app_id."""
        best = None
        for commit in commits if commits is not None else self._commits():
            txn = commit.get("txn")
            if txn and txn.get("app_id") == app_id:
                v = txn.get("version")
                if best is None or v > best:
                    best = v
        return best

    # ------------------------------------------------------------------
    # data plumbing
    # ------------------------------------------------------------------
    def _n_buckets(self, commits: list[dict] | None = None) -> int:
        return (commits if commits is not None else self._commits())[0]["n_buckets"]

    def _key_col(self, commits: list[dict] | None = None) -> str:
        return (commits if commits is not None else self._commits())[0]["key_col"]

    def _schema(self, commits: list[dict] | None = None) -> list[dict] | None:
        """Table data-column schema pinned by the CREATE commit
        (``[{"name", "type"}, ...]``) — the authority every later MERGE is
        validated against so a malformed changelog can never narrow or
        retype the table. Tables created before schema pinning existed
        have a CREATE commit without the key; return ``None`` so callers
        skip the gate instead of hard-failing every future merge with an
        opaque KeyError (no migration path would exist otherwise)."""
        return (commits if commits is not None else self._commits())[0].get("schema")

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, _DATA_DIR, rel)

    def read(
        self,
        entries: list[dict] | None = None,
        at_version: int | None = None,
        commits: list[dict] | None = None,
    ) -> DataFrame:
        """Scan the live snapshot, a historical snapshot (``at_version``),
        or an explicit subset of entries. ``commits`` is an already-listed
        log (same one-listing rule as ``snapshot``).

        The scan carries the schema pinned by the CREATE commit, so Spark
        skips its footer-reading inference job; tables created before
        schema pinning still infer it from the files."""
        if commits is None:
            commits = self._commits()
        if entries is None:
            entries = self.snapshot(at_version=at_version, commits=commits)
        paths = [self._abs(e["path"]) for e in entries]
        if not paths:
            raise ValueError(f"empty table at {self.path}")
        if at_version is not None:
            # historical reads only (bounded manifest-sized stat sweep):
            # a version older than the vacuum retention horizon replays
            # fine from the log but its files are gone — fail with the
            # retention story, not a deep Spark PATH_NOT_FOUND
            missing = [p for p in paths if not os.path.exists(p)]
            if missing:
                raise ValueError(
                    f"version {at_version} of {self.path} is no longer "
                    f"readable: {len(missing)} of its data files were "
                    "reclaimed by vacuum (older than the retention "
                    "horizon); time travel is bounded by retain_last"
                )
        reader = self.spark.read
        schema = self._schema(commits=commits)
        if schema is not None:
            reader = reader.schema(
                ", ".join(
                    "`{}` {}".format(s["name"].replace("`", "``"), s["type"])
                    for s in schema
                )
            )
        return reader.parquet(*paths)

    def _write_data_files(
        self, df: DataFrame, version: int, pack: bool = True
    ) -> list[dict]:
        """Write ``df`` (carrying ``_bucket``) under a fresh txn directory;
        return its manifest entries. ``pack=True`` shuffles on the bucket
        first so each bucket lands in ONE file (merge/OPTIMIZE output);
        ``pack=False`` keeps the caller's partitioning — a zero-shuffle
        ingest where every input partition writes its own slice of each
        bucket (CREATE), leaving small files for OPTIMIZE to bin-pack."""
        rel_root = f"txn-{version:08d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, _DATA_DIR, rel_root)
        writer = df.repartition("_bucket") if pack else df
        writer.write.partitionBy("_bucket").parquet(out)
        entries = []
        for bucket_dir in sorted(os.listdir(out)):
            if not bucket_dir.startswith("_bucket="):
                continue
            bucket = int(bucket_dir.split("=", 1)[1])
            for name in sorted(os.listdir(os.path.join(out, bucket_dir))):
                if name.endswith(".parquet"):
                    entries.append(
                        {"path": f"{rel_root}/{bucket_dir}/{name}", "bucket": bucket}
                    )
        return entries

    @staticmethod
    def _bucket_expr(key_col: str, n_buckets: int):
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")

    # ------------------------------------------------------------------
    # operations
    # ------------------------------------------------------------------
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        key_col: str,
        n_buckets: int = 8,
    ) -> "TxnTable":
        """Initialize the table from a snapshot DataFrame (commit 0)."""
        table = cls(spark, path)
        if table._commits():
            raise ValueError(f"table already exists at {path}")
        bucketed = df.withColumn("_bucket", cls._bucket_expr(key_col, n_buckets))
        # zero-shuffle ingest: the initial load never repartitions 100 TB —
        # each source partition writes its slice of each bucket; OPTIMIZE
        # bin-packs later if the file counts warrant it
        entries = table._write_data_files(bucketed, version=0, pack=False)
        table._write_commit(
            {
                "version": 0,
                "op": "CREATE",
                "key_col": key_col,
                "n_buckets": n_buckets,
                "schema": [
                    {"name": f.name, "type": f.dataType.simpleString()}
                    for f in df.schema.fields
                ],
                "add": entries,
                "remove": [],
            }
        )
        return table

    def merge_cdc(
        self,
        changelog: DataFrame,
        app_id: str,
        version: int,
        order_cols: tuple[str, str] = ("ts_us", "event_id"),
        delete_col: str = "is_delete",
    ) -> dict:
        """MERGE a CDC changelog (upserts + tombstones) into the table.

        ``changelog`` carries the table's data columns plus ``delete_col``
        and the ``order_cols`` total order; per key the latest changelog
        row wins WHOLESALE — a matched row is replaced by the changelog
        row's columns including its NULLs (WHEN MATCHED UPDATE / WHEN
        MATCHED AND is_delete DELETE / WHEN NOT MATCHED INSERT). Only
        the buckets containing changed keys are rewritten. Returns merge
        stats; replaying an already-committed ``(app_id, version)`` is a
        NO-OP (idempotent).
        """
        # ONE log listing for the whole operation: the commit version is
        # pinned to the same listing the snapshot replays, so any commit
        # landing in between makes our os.link hit EEXIST (conflict)
        # instead of claiming a fresh slot and losing that writer's
        # update (r11 review).
        commits = self._commits()
        last = self.last_txn_version(app_id, commits=commits)
        if last is not None and version <= last:
            return {"skipped": True, "reason": f"txn {app_id}:{version} <= {last}"}

        key_col = self._key_col(commits=commits)
        n_buckets = self._n_buckets(commits=commits)
        o1, o2 = order_cols

        # schema gate: the changelog must carry EXACTLY the data columns
        # pinned by the CREATE commit (plus delete/order bookkeeping) with
        # matching types — otherwise the rewrite would silently narrow or
        # retype the touched buckets, leaving a mixed-schema table
        schema = self._schema(commits=commits)
        if schema is not None:
            expected = {s["name"]: s["type"] for s in schema}
            bookkeeping = {delete_col, o1, o2}
            got = {
                f.name: f.dataType.simpleString()
                for f in changelog.schema.fields
            }
            missing = sorted(set(expected) - set(got))
            extra = sorted(set(got) - set(expected) - bookkeeping)
            retyped = sorted(
                f"{c}: table={expected[c]} changelog={got[c]}"
                for c in set(expected) & set(got)
                if got[c] != expected[c]
            )
            if missing or extra or retyped:
                raise ValueError(
                    "changelog schema does not match the table schema "
                    "committed at CREATE: "
                    f"missing={missing} extra={extra} retyped={retyped}"
                )
            data_cols = [s["name"] for s in schema]
        else:
            # pre-schema-pinning table: fall back to the live file schema
            # (ungated merge, same behavior those tables were created
            # under). Derive it from the SAME pinned log listing as the
            # rest of this merge — an argless self.read() would re-list
            # the log, and a commit landing between the two listings
            # could change the schema source mid-operation (ADVICE r11:
            # the one-listing-per-operation rule had this one leak).
            data_cols = [
                c
                for c in self.read(commits=commits).columns
                if c not in {delete_col, o1, o2, "_bucket"}
            ]

        # file-level pruning: which buckets does the delta touch? Taken
        # from the RAW changelog keys — latest-wins keeps exactly one row
        # per key, so the compacted key set, and with it the bucket set,
        # is the same. One tiny job; bounded: <= n_buckets rows of
        # metadata, like the manifest.
        bucket = self._bucket_expr(key_col, n_buckets)
        touched = {r[0] for r in changelog.select(bucket).distinct().collect()}
        snapshot = self.snapshot(commits=commits)
        affected = [e for e in snapshot if e["bucket"] in touched]
        carried = [e for e in snapshot if e["bucket"] not in touched]

        # latest-wins compaction: the plan's ONE window over the
        # changelog (a shuffle sized by the changelog, never the table).
        # Latest-wins is WHOLESALE row replacement: the surviving row
        # replaces the table row with all its columns INCLUDING NULLs (a
        # CDC update clearing a field must clear it, r11 review).
        w = Window.partitionBy(key_col).orderBy(
            F.col(o1).desc(), F.col(o2).desc()
        )
        upserts = (
            changelog.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .filter(~F.coalesce(F.col(delete_col), F.lit(False)))  # deletes
            .select(*data_cols)
        )
        merged = upserts
        if affected:
            # the touched buckets' rows minus every changelog key (updated
            # or deleted) — an anti-join against the raw keys, the same
            # set as the compacted keys. Keys taken from the windowed
            # rows would not share the window: column pruning narrows
            # this side's copy of it into a second changelog shuffle.
            # The planner picks the join: broadcast build for a small
            # changelog, so the table side streams unshuffled; sort-merge
            # for a large one. A NULL key never matches, so NULL-key
            # table rows are kept and a NULL-key changelog row is an
            # insert.
            base = self.read(affected, commits=commits)
            keys = changelog.select(F.col(key_col).alias("_key"))
            kept = base.join(keys, base[key_col] == keys["_key"], "left_anti")
            merged = kept.select(*data_cols).unionByName(upserts)
        next_commit = len(commits)
        added = self._write_data_files(
            merged.withColumn("_bucket", bucket), version=next_commit
        )
        self._write_commit(
            {
                "version": next_commit,
                "op": "MERGE_CDC",
                "txn": {"app_id": app_id, "version": version},
                "add": added,
                "remove": [e["path"] for e in affected],
            }
        )
        return {
            "skipped": False,
            "touched_buckets": sorted(touched),
            "files_added": len(added),
            "files_removed": len(affected),
            "files_carried": len(carried),
        }

    def compact(self) -> dict:
        """OPTIMIZE: rewrite buckets whose live data spans more than one
        file into one file per bucket (bin-packing small files produced
        by incremental merges). Logically a no-op — same rows, fewer
        files — committed like any other transaction, so readers switch
        atomically and time travel still sees the pre-compaction layout.
        Skips (no commit) when every bucket is already a single file.
        """
        # ONE listing: version pinned to the snapshot's log state, so a
        # concurrent commit forces our EEXIST conflict instead of being
        # silently overwritten (same rule as merge_cdc, r11 review)
        commits = self._commits()
        snapshot = self.snapshot(commits=commits)
        by_bucket: dict[int, list[dict]] = {}
        for e in snapshot:
            by_bucket.setdefault(e["bucket"], []).append(e)
        frag = [b for b, es in by_bucket.items() if len(es) > 1]
        if not frag:
            return {"skipped": True, "reason": "already compact"}
        to_rewrite = [e for b in frag for e in by_bucket[b]]
        rows = self.read(to_rewrite, commits=commits).withColumn(
            "_bucket",
            self._bucket_expr(
                self._key_col(commits=commits), self._n_buckets(commits=commits)
            ),
        )
        # one output file per bucket: partition-wise coalesce via the
        # bucket repartition inside _write_data_files
        next_commit = len(commits)
        added = self._write_data_files(rows, version=next_commit)
        self._write_commit(
            {
                "version": next_commit,
                "op": "OPTIMIZE",
                "add": added,
                "remove": [e["path"] for e in to_rewrite],
            }
        )
        return {
            "skipped": False,
            "buckets_compacted": sorted(frag),
            "files_before": len(to_rewrite),
            "files_after": len(added),
        }

    def vacuum(
        self, retain_last: int = 1, min_age_seconds: float = 3600.0
    ) -> dict:
        """Physically delete data files no longer referenced by the last
        ``retain_last`` snapshots (nor by the current one) — including
        orphans from writers that crashed before committing. After a
        vacuum, time travel older than the retention horizon is gone;
        that trade is the whole point (storage reclaim), same contract as
        the production formats.

        ``min_age_seconds`` is the in-flight-writer guard (Delta/Iceberg
        retention convention): a file younger than the horizon may have
        been staged by a writer that has not committed yet — deleting it
        would let that writer commit a manifest referencing deleted files.
        Only files older than the horizon are candidates; pass ``0`` when
        the caller can guarantee no concurrent writers (tests, single-
        writer maintenance windows).
        """
        import time

        commits = self._commits()
        latest = commits[-1]["version"] if commits else 0
        keep: set[str] = set()
        for v in range(max(0, latest - retain_last + 1), latest + 1):
            keep.update(e["path"] for e in self.snapshot(at_version=v))
        data_root = os.path.join(self.path, _DATA_DIR)
        horizon = time.time() - min_age_seconds
        removed = skipped_young = 0
        for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
            for name in filenames:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, data_root)
                if rel in keep:
                    continue
                try:
                    if os.path.getmtime(full) > horizon:
                        # possibly staged by an in-flight writer: spare it
                        skipped_young += 1
                        continue
                    os.remove(full)
                except FileNotFoundError:
                    # a concurrent writer finalized/cleaned the staging
                    # file between the walk and the stat — nothing to
                    # reclaim, same tolerance as the commit path
                    continue
                if name.endswith(".parquet"):
                    removed += 1
                # non-parquet writer-side markers (_SUCCESS, .crc) are
                # never in the manifest; swept with their directories
            try:
                if not os.listdir(dirpath) and dirpath != data_root:
                    os.rmdir(dirpath)
            except (FileNotFoundError, OSError):
                pass
        return {
            "files_deleted": removed,
            "retained_versions": retain_last,
            "skipped_young": skipped_young,
        }
