"""Iceberg-lite snapshot table: manifest-based atomic commits + time travel.

Layout (all paths under one table root):

    <root>/data/s<N>-<uuid>/part-*.parquet     immutable data directories
    <root>/deletes/s<N>-<uuid>/part-*.parquet  equality-delete key files
                                               (merge-on-read commits)
    <root>/manifests/v<N>.json                 one manifest per snapshot
    <root>/LATEST                              current-snapshot pointer

A commit NEVER mutates existing files: it (1) writes a brand-new data
directory, (2) writes manifest ``v<N>.json`` listing the FULL set of
data directories visible in snapshot N, then (3) atomically renames a
temp file over ``LATEST``. Readers resolve LATEST → manifest → data
dirs; every file on that path is immutable once named, and the pointer
swing is a single POSIX rename, so a concurrent reader observes either
the old snapshot or the new one — never a torn mix (tested in
tests/test_round8_ops.py). Old snapshots stay readable until an
explicit ``expire_snapshots`` — that is what makes ``read_as_of`` time
travel free.

Design follows the PUBLIC Apache Iceberg spec's snapshot +
metadata-pointer model (v1 semantics: manifests enumerate data files,
a root pointer names the live snapshot); the implementation here is
original and minimal. Reference parity: the reference delegates table
state to BigQuery's ``if_exists='append'/'replace'``
(``sf_html_data.py:178-185``) with no point-in-time reads; this layer
is the lake-side replacement that the history/bitemporal query family
(queries/history.py) assumes at 100 TB.

SINGLE-WRITER assumption (same contract as ``sinks.writers.swap_dir``):
snapshot ids are allocated as latest+1 without a lock, so two
concurrent WRITERS can race on a manifest name; readers are always
consistent. A multi-writer deployment swaps step (3) for a
compare-and-swap on the pointer (e.g. a rename that fails if LATEST
moved), exactly Iceberg's optimistic-commit loop.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    """A parquet table with atomic snapshot commits and time travel."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # -- metadata ------------------------------------------------------------
    def _pointer(self) -> str:
        return os.path.join(self.root, "LATEST")

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.root, "manifests", f"v{snapshot_id}.json")

    def latest_snapshot_id(self) -> int | None:
        try:
            with open(self._pointer()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def manifest(self, snapshot_id: int) -> dict:
        with open(self._manifest_path(snapshot_id)) as f:
            return json.load(f)

    # -- branches (write-audit-publish) ---------------------------------------
    def _branch_pointer(self, branch: str) -> str:
        if not branch or not branch.replace("-", "").replace("_", "").isalnum():
            raise ValueError(f"invalid branch name: {branch!r}")
        return os.path.join(self.root, f"BRANCH-{branch}")

    def branch_head(self, branch: str) -> int | None:
        try:
            with open(self._branch_pointer(branch)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshots(self) -> list[dict]:
        """All SURVIVING manifests, oldest first (the snapshot log —
        expired snapshots drop out of it)."""
        latest = self.latest_snapshot_id()
        if latest is None:
            return []
        out = []
        for i in range(1, latest + 1):
            if os.path.exists(self._manifest_path(i)):
                out.append(self.manifest(i))
        return out

    # -- commits -------------------------------------------------------------
    @staticmethod
    def _json_stat(v):
        """A min/max value as a JSON-safe, ORDER-CORRECT manifest entry:
        ints/floats/strs ride natively (numeric comparisons stay
        numeric — the string-cast legacy 'stats' field is lexicographic,
        which mis-orders unpadded numerics and must never drive delete
        pruning); datetimes/dates become ISO strings and Decimals become
        floats (order-correct); anything else opts out (None → the
        consumer treats the bound as unknown and stays conservative)."""
        import datetime
        import decimal

        if v is None or isinstance(v, (int, float, str)) and not isinstance(v, bool):
            return v
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        if isinstance(v, decimal.Decimal):
            return float(v)
        return None

    def _collect_file_stats(
        self, spark: SparkSession, rel_dir: str, stats_cols: tuple[str, ...]
    ) -> list[dict]:
        """Per-FILE row counts and min/max for ``stats_cols`` — Iceberg's
        manifest column stats. One grouped aggregate over the freshly
        written dir keyed by input_file_name(); the collect is
        manifest-sized (one row per data file). 'stats' keeps the legacy
        stringly bounds (scan_pruned's documented contract); 'stats_t'
        carries TYPED bounds for the delete-file pruning, where a
        lexicographic compare of numeric keys would prune wrong files."""
        import pyspark.sql.functions as F

        abs_dir = os.path.join(self.root, rel_dir)
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in stats_cols:
            aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
            aggs.append(F.min(c).alias(f"_tmin_{c}"))
            aggs.append(F.max(c).alias(f"_tmax_{c}"))
        rows = (
            spark.read.parquet(abs_dir)
            .groupBy(F.input_file_name().alias("_file"))
            .agg(*aggs)
            .collect()
        )
        out = []
        for r in rows:
            fname = r._file
            # normalize file:///.../<root>/<rel_dir>/part-x.parquet → repo-relative
            idx = fname.find(rel_dir)
            rel = fname[idx:] if idx >= 0 else fname
            entry = {
                "file": rel,
                "rows": r._n,
                "stats": {
                    c: [r[f"_min_{c}"], r[f"_max_{c}"]] for c in stats_cols
                },
            }
            typed = {}
            for c in stats_cols:
                mn = self._json_stat(r[f"_tmin_{c}"])
                mx = self._json_stat(r[f"_tmax_{c}"])
                if mn is not None and mx is not None:
                    typed[c] = [mn, mx]
            if typed:
                entry["stats_t"] = typed
            out.append(entry)
        return out

    # Bloom-filter manifest metrics (Iceberg puffin-style secondary
    # stats): per-file bitmaps over a column's DISTINCT values, for
    # point-lookup file skipping where min/max ranges are useless (a
    # high-cardinality key scattered across files overlaps every range).
    BLOOM_BITS = 16384  # 2 KB/file/col; ~2% FPP at ~2k distinct values
    BLOOM_HASHES = 4

    def _collect_file_blooms(
        self, spark: SparkSession, rel_dir: str, bloom_cols: tuple[str, ...]
    ) -> dict[str, dict[str, str]]:
        """{file -> {col -> base64 bitmap}}. Bit positions come from
        xxhash64(value, seed) % BITS computed SPARK-SIDE (so the lookup
        side can reproduce them with the same engine hash); the collect
        is (files x cols x set-bits)-bounded — manifest-sized."""
        import base64
        import pyspark.sql.functions as F

        abs_dir = os.path.join(self.root, rel_dir)
        df = spark.read.parquet(abs_dir)
        out: dict[str, dict[str, str]] = {}
        for c in bloom_cols:
            pos = df.select(
                F.input_file_name().alias("_file"), F.col(c).alias("_v")
            ).distinct()
            pos = pos.select(
                "_file",
                F.explode(
                    F.array(
                        *[
                            F.pmod(
                                F.xxhash64(F.col("_v"), F.lit(i)),
                                F.lit(self.BLOOM_BITS),
                            )
                            for i in range(self.BLOOM_HASHES)
                        ]
                    )
                ).alias("_bit"),
            ).distinct()
            rows = pos.groupBy("_file").agg(
                F.collect_set("_bit").alias("_bits")
            ).collect()
            for r in rows:
                idx = r._file.find(rel_dir)
                rel = r._file[idx:] if idx >= 0 else r._file
                bm = bytearray(self.BLOOM_BITS // 8)
                for b in r._bits:
                    bm[b // 8] |= 1 << (b % 8)
                out.setdefault(rel, {})[c] = base64.b64encode(bytes(bm)).decode()
        return out

    # -- schema evolution (Iceberg field-id model) -----------------------------
    @staticmethod
    def _merge_schema(
        parent_schema: list[dict], df: DataFrame, last_id: int
    ) -> tuple[list[dict], int]:
        """Evolve the tracked schema for a data commit: df columns match
        existing fields BY NAME (keeping their stable field ids — the
        Iceberg rule that makes renames free), unseen names get fresh
        ids above ``last_id``. Fields absent from ``df`` stay in the
        schema (an append of a narrower frame must not drop columns;
        use :meth:`drop_column` to remove one deliberately). Returns
        (schema, new last_id) — ids are NEVER reused, even after a
        drop, or a re-added name would resurrect dropped values out of
        old data dirs (the Iceberg last-assigned-id rule)."""
        schema = [dict(f) for f in parent_schema]
        by_name = {f["name"]: f for f in schema}
        for fld in df.schema.fields:
            if fld.name not in by_name:
                last_id += 1
                schema.append(
                    {
                        "id": last_id,
                        "name": fld.name,
                        "type": fld.dataType.simpleString(),
                    }
                )
        return schema, last_id

    @staticmethod
    def _last_field_id(m: dict | None) -> int:
        """The high-water field id of a manifest: the recorded counter,
        or (legacy manifests) the max id in the tracked schema."""
        if m is None:
            return 0
        return m.get(
            "last_field_id",
            max((f["id"] for f in m.get("schema", [])), default=0),
        )

    def _commit(
        self,
        df: DataFrame,
        operation: str,
        stats_cols: tuple[str, ...] = (),
        batch_id: int | None = None,
        delete_keys: tuple[DataFrame, list[str]] | None = None,
        bloom_cols: tuple[str, ...] = (),
        branch: str | None = None,
        partition_by: tuple[str, ...] = (),
    ) -> int:
        # a branch commit chains off the branch head (or current LATEST
        # for a fresh branch) and lands its id in the BRANCH pointer —
        # main readers resolve LATEST and never see it (write-audit-
        # publish, the Iceberg branch model)
        parent = None
        if branch is not None:
            parent = self.branch_head(branch)
        if parent is None:
            parent = self.latest_snapshot_id()
        # batch-id LINEAGE (Iceberg-style snapshot-summary carry-forward):
        # every manifest carries the full {batch_id: snapshot_id} map of
        # its ancestry, so replay protection survives expire_snapshots —
        # scanning only SURVIVING manifests would shrink the protection
        # window to the retention horizon (e.g. 7 kept snapshots at 2
        # commits per daily tick protect only ~3-4 days of replays).
        known: dict[str, int] = {}
        if parent is not None:
            pm = self.manifest(parent)
            known = dict(pm.get("batch_ids", {}))
            if "batch_ids" not in pm:
                # legacy table written before the lineage field: BACKFILL
                # the map from every surviving legacy manifest once, so
                # the first new-format commit seeds the full lineage —
                # scanning only when the parent lacks the field would
                # stop running after that first commit and let a
                # pre-migration batch replay double-land (round-9 ADVICE)
                for i in range(parent, 0, -1):
                    if not os.path.exists(self._manifest_path(i)):
                        continue  # expired — its batch is beyond the horizon
                    m = self.manifest(i)
                    if "batch_id" in m:
                        known.setdefault(str(m["batch_id"]), i)
        if batch_id is not None and parent is not None:
            # idempotent streaming commits: a replayed micro-batch (same
            # source batch_id) must not double-land — the Iceberg +
            # Structured Streaming exactly-once recipe (batch id recorded
            # in the snapshot summary, skipped on replay)
            if str(batch_id) in known:
                return known[str(batch_id)]
        # ids allocate above EVERY existing manifest, not just the
        # parent: a commit landing while a (stale) branch holds higher
        # staged ids must not collide with them
        new_id = max(
            parent or 0,
            max(
                (
                    int(os.path.basename(p)[1:-5])
                    for p in glob.glob(
                        os.path.join(self.root, "manifests", "v*.json")
                    )
                ),
                default=0,
            ),
        ) + 1
        rel_dir = os.path.join("data", f"s{new_id}-{uuid.uuid4().hex[:8]}")
        # PARTITION SPEC EVOLUTION (Iceberg): each data dir carries the
        # spec it was WRITTEN under; changing the spec affects only new
        # dirs — old data is never rewritten, and reads reconcile mixed
        # layouts per-dir (partition columns restored from directory
        # names and cast back to the tracked schema type, never left to
        # inference). Pruning is spec-agnostic: per-file manifest stats
        # cover identity-partition columns like any other column.
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(os.path.join(self.root, rel_dir))
        # field-id schema tracking (Iceberg schema evolution): every
        # manifest carries the CURRENT schema as [{id, name, type}] and a
        # per-data-dir {field_id -> physical column name} map recording
        # the names the dir's parquet files were written under — reads
        # resolve ids, so a rename_column never rewrites data and an
        # add_column back-fills nulls on old dirs. Legacy manifests
        # without the field read on the plain (un-projected) path.
        pm_schema = self.manifest(parent) if parent is not None else None
        parent_schema: list[dict] = (
            pm_schema.get("schema", []) if pm_schema is not None else []
        )
        schema, last_field_id = self._merge_schema(
            parent_schema, df, self._last_field_id(pm_schema)
        )
        id_by_name = {f["name"]: f["id"] for f in schema}
        dir_cols: dict[str, dict[str, str]] = {}
        specs: dict[str, list[str]] = {}
        if parent is not None and operation in ("append", "merge_on_read"):
            dir_cols.update(self.manifest(parent).get("dir_cols", {}))
            specs.update(self.manifest(parent).get("specs", {}))
        dir_cols[rel_dir] = {
            str(id_by_name[fld.name]): fld.name for fld in df.schema.fields
        }
        if partition_by:
            specs[rel_dir] = list(partition_by)
        dirs: list[str] = []
        files: list[dict] = []
        # merge-on-read bookkeeping (Iceberg v2 sequence-number model):
        # every data dir carries the snapshot id that ADDED it; every
        # equality-delete dir carries the snapshot id that wrote it and
        # applies only to data dirs with a SMALLER seq — so an update
        # row landed in the same commit as its delete keys is never
        # deleted by them, and a later re-insert of a deleted key
        # survives older deletes.
        dir_seqs: dict[str, int] = {}
        deletes: list[dict] = []
        carry = operation in ("append", "merge_on_read") and parent is not None
        if carry:
            pm = self.manifest(parent)
            dirs.extend(pm["data_dirs"])
            files.extend(pm.get("files", []))
            dir_seqs.update(pm.get("dir_seqs", {}))
            deletes.extend(pm.get("deletes", []))
        dirs.append(rel_dir)
        dir_seqs[rel_dir] = new_id
        if delete_keys is not None:
            kdf, key_cols = delete_keys
            del_dir = os.path.join(
                "deletes", f"s{new_id}-{uuid.uuid4().hex[:8]}"
            )
            keys_rel = kdf.select(*key_cols).distinct()
            keys_rel.write.parquet(os.path.join(self.root, del_dir))
            # typed key-range stats for the delete file itself: readers
            # skip the anti-join entirely for data files whose key range
            # can't intersect any applicable delete (Iceberg's
            # delete-file metrics) — one manifest-sized agg at write time
            import pyspark.sql.functions as F

            krow = keys_rel.agg(
                *[F.min(c).alias(f"_mn_{c}") for c in key_cols],
                *[F.max(c).alias(f"_mx_{c}") for c in key_cols],
            ).collect()[0]
            kstats = {}
            for c in key_cols:
                mn = self._json_stat(krow[f"_mn_{c}"])
                mx = self._json_stat(krow[f"_mx_{c}"])
                if mn is not None and mx is not None:
                    kstats[c] = [mn, mx]
            deletes.append(
                {
                    "dir": del_dir,
                    "keys": list(key_cols),
                    # field ids of the key columns: a later rename of a key
                    # column resolves the anti-join to the CURRENT name
                    # while the delete parquet keeps its write-time names
                    "key_ids": [id_by_name[c] for c in key_cols],
                    "seq": new_id,
                    **({"stats_t": kstats} if kstats else {}),
                }
            )
        if stats_cols:
            files.extend(
                self._collect_file_stats(df.sparkSession, rel_dir, stats_cols)
            )
        if bloom_cols:
            blooms = self._collect_file_blooms(
                df.sparkSession, rel_dir, bloom_cols
            )
            by_file = {f["file"]: f for f in files}
            for rel, bmap in blooms.items():
                if rel in by_file:
                    by_file[rel]["bloom"] = bmap
                else:
                    files.append({"file": rel, "bloom": bmap})
        if batch_id is not None:
            known[str(batch_id)] = new_id
        manifest = {
            "snapshot_id": new_id,
            "parent_id": parent,
            "operation": operation,
            "data_dirs": dirs,
            "files": files,
            "dir_seqs": dir_seqs,
            "deletes": deletes,
            "schema": schema,
            "dir_cols": dir_cols,
            "specs": specs,
            "last_field_id": last_field_id,
            # full ancestry batch-id map — carried through EVERY commit
            # (appends, overwrites, compactions) so expiry cannot shrink
            # the replay-protection window
            "batch_ids": known,
        }
        if batch_id is not None:
            manifest["batch_id"] = batch_id
        # manifest then pointer, each via write-temp + atomic rename —
        # a reader that resolves the pointer always finds a complete
        # manifest whose data dirs are fully written
        pointer = (
            self._pointer() if branch is None else self._branch_pointer(branch)
        )
        for path, payload in (
            (self._manifest_path(new_id), json.dumps(manifest, indent=1)),
            (pointer, str(new_id)),
        ):
            tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
        return new_id

    def commit_overwrite(
        self,
        df: DataFrame,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
    ) -> int:
        """The reference's ``if_exists='replace'`` with history kept.
        ``stats_cols`` adds per-file min/max manifest stats for
        ``scan_pruned``; ``bloom_cols`` adds per-file Bloom bitmaps for
        ``scan_point``; ``partition_by`` writes the dir under an
        identity partition spec (see partition-spec evolution note in
        :meth:`_commit`)."""
        return self._commit(
            df, "overwrite", stats_cols, bloom_cols=bloom_cols,
            partition_by=partition_by,
        )

    def commit_append(
        self,
        df: DataFrame,
        stats_cols: tuple[str, ...] = (),
        batch_id: int | None = None,
        bloom_cols: tuple[str, ...] = (),
        partition_by: tuple[str, ...] = (),
    ) -> int:
        """The reference's ``if_exists='append'``: the new snapshot sees
        the parent's data dirs plus the new one — no rewrite of old data.
        ``batch_id`` makes the commit idempotent for streaming replays.
        ``partition_by`` evolves the partition spec for THIS dir only —
        prior dirs keep their layout (Iceberg partition evolution)."""
        return self._commit(
            df, "append", stats_cols, batch_id, bloom_cols=bloom_cols,
            partition_by=partition_by,
        )

    # -- write-audit-publish ---------------------------------------------------
    def stage_append(
        self,
        df: DataFrame,
        branch: str,
        stats_cols: tuple[str, ...] = (),
        batch_id: int | None = None,
        bloom_cols: tuple[str, ...] = (),
    ) -> int:
        """An append that lands on ``branch`` instead of LATEST — the
        WRITE step of write-audit-publish (the Iceberg WAP recipe: write
        to a branch, run the DQ gate against the branch read, fast-
        forward main only if it passes). Main readers never see staged
        data; the reference's abort-on-bad-fetch shape
        (`sf_html_data.py:95-105`) becomes gate-then-publish instead of
        gate-then-hope, and a failed audit costs a :meth:`drop_branch`,
        not a restore. Same single-writer contract as every commit."""
        return self._commit(
            df, "append", stats_cols, batch_id,
            bloom_cols=bloom_cols, branch=branch,
        )

    def stage_overwrite(
        self,
        df: DataFrame,
        branch: str,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
    ) -> int:
        """Overwrite staged on ``branch`` (see :meth:`stage_append`)."""
        return self._commit(
            df, "overwrite", stats_cols, bloom_cols=bloom_cols, branch=branch
        )

    def publish_branch(self, branch: str) -> int:
        """The PUBLISH step: fast-forward LATEST to the branch head and
        retire the branch pointer. Requires the head's parent chain to
        reach the CURRENT LATEST — if another writer advanced main while
        the branch was staged, publishing would silently drop that
        commit, so it raises instead (the no-concurrent-writer invariant
        made loud). Pointer swap is the same write-temp + atomic rename
        as every commit: readers see the old or the new table, never a
        torn one."""
        head = self.branch_head(branch)
        if head is None:
            raise ValueError(f"no staged commits on branch {branch!r}")
        latest = self.latest_snapshot_id()
        sid: int | None = head
        while sid is not None and sid != latest:
            sid = self.manifest(sid).get("parent_id")
        if sid != latest:
            raise ValueError(
                f"branch {branch!r} (head {head}) does not descend from "
                f"LATEST={latest} — main advanced since staging; re-stage"
            )
        path = self._pointer()
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(head))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        os.remove(self._branch_pointer(branch))
        return head

    def drop_branch(self, branch: str) -> list[str]:
        """Abandon a staged branch: delete its pointer, its branch-only
        manifests, and the data/delete dirs THOSE commits added (ids
        above LATEST by construction — published snapshots are never
        touched, and parent dirs a staged manifest merely references
        stay put). Keeps the surviving-manifest id range dense, which
        :meth:`snapshots` / :meth:`read_changes` rely on. Returns the
        deleted dirs."""
        head = self.branch_head(branch)
        pointer = self._branch_pointer(branch)
        if head is None:
            if os.path.exists(pointer):
                os.remove(pointer)
            return []
        latest = self.latest_snapshot_id() or 0
        deleted: list[str] = []
        sid: int | None = head
        while sid is not None and sid > latest:
            m = self.manifest(sid)
            own = [
                d for d, seq in m.get("dir_seqs", {}).items() if seq == sid
            ] + [
                dd["dir"] for dd in m.get("deletes", []) if dd.get("seq") == sid
            ]
            for d in own:
                full = os.path.join(self.root, d)
                if os.path.exists(full):
                    shutil.rmtree(full)
                    deleted.append(d)
            os.remove(self._manifest_path(sid))
            sid = m.get("parent_id")
        os.remove(pointer)
        return deleted

    def commit_merge(
        self,
        df: DataFrame,
        key_cols: list[str],
        stats_cols: tuple[str, ...] = (),
    ) -> int:
        """MERGE / upsert, copy-on-write: rows from ``df`` replace
        current rows with the same key, untouched rows carry forward,
        and the result lands as ONE new snapshot — readers switch from
        the whole old table to the whole new one atomically, and the
        pre-merge state stays time-travelable. This is the Iceberg
        copy-on-write MERGE INTO shape; :meth:`commit_merge_on_read` is
        the delete-file twin a heavier write rate needs."""
        if self.latest_snapshot_id() is None:
            return self._commit(df, "merge", stats_cols)
        current = self.read_as_of(df.sparkSession)
        kept = current.join(
            df.select(*key_cols).distinct(), key_cols, "left_anti"
        )
        return self._commit(
            kept.unionByName(df), "merge", stats_cols
        )

    def commit_merge_on_read(
        self,
        df: DataFrame,
        key_cols: list[str],
        stats_cols: tuple[str, ...] = (),
        batch_id: int | None = None,
        bloom_cols: tuple[str, ...] = (),
    ) -> int:
        """MERGE / upsert, MERGE-ON-READ (Iceberg v2 equality deletes):
        instead of rewriting every file holding a matched key (the
        copy-on-write ``commit_merge``), the commit writes only (1) the
        incoming rows as a new data dir and (2) their keys as an
        equality-DELETE file; readers anti-join the delete keys against
        older data dirs at scan time. Write cost is O(increment) — the
        posture a heavy update rate needs at 100 TB, where one hot key
        per file would make copy-on-write rewrite the whole table daily.
        The price is read amplification (one extra broadcast anti-join
        per reader), bounded by calling :meth:`compact_deletes` on the
        lake's maintenance cadence — exactly Iceberg's
        rewrite_data_files loop. Same final relation as commit_merge by
        construction (asserted cross-path in tests and by the
        storage_merge_on_read query sharing storage_merge_upsert's
        oracle)."""
        if self.latest_snapshot_id() is None:
            return self._commit(
                df, "merge_on_read", stats_cols, batch_id, bloom_cols=bloom_cols
            )
        return self._commit(
            df,
            "merge_on_read",
            stats_cols,
            batch_id,
            delete_keys=(df, key_cols),
            bloom_cols=bloom_cols,
        )

    def compact_deletes(
        self, spark: SparkSession, stats_cols: tuple[str, ...] = ()
    ) -> int | None:
        """Fold all outstanding equality deletes into the data (Iceberg's
        rewrite_data_files): materialize the fully-applied current table
        as ONE new snapshot with no delete files. Readers keep snapshot
        isolation throughout (the rewrite lands as a normal commit);
        older MOR snapshots stay time-travelable until expiry. No-op
        (returns None) when nothing is deleted."""
        sid = self.latest_snapshot_id()
        if sid is None or not self.manifest(sid).get("deletes"):
            return None
        return self._commit(self.read_as_of(spark), "compact", stats_cols)

    # -- schema DDL (metadata-only commits — no data rewrite) ------------------
    def _commit_meta(
        self, operation: str, schema: list[dict], last_field_id: int | None = None
    ) -> int:
        """A commit that changes ONLY the tracked schema: the new
        manifest carries the parent's data dirs, files, deletes and
        batch lineage verbatim, plus the evolved schema — an O(manifest)
        operation regardless of table size, which is the whole point of
        field-id schema evolution at 100 TB (a rename that rewrote
        parquet would be a full-table job)."""
        parent = self.latest_snapshot_id()
        if parent is None:
            raise ValueError(f"empty snapshot table at {self.root}")
        pm = self.manifest(parent)
        new_id = parent + 1
        manifest = {
            "snapshot_id": new_id,
            "parent_id": parent,
            "operation": operation,
            "data_dirs": pm["data_dirs"],
            "files": pm.get("files", []),
            "dir_seqs": pm.get("dir_seqs", {}),
            "deletes": pm.get("deletes", []),
            "schema": schema,
            "dir_cols": pm.get("dir_cols", {}),
            "specs": pm.get("specs", {}),
            "last_field_id": (
                self._last_field_id(pm)
                if last_field_id is None
                else last_field_id
            ),
            "batch_ids": pm.get("batch_ids", {}),
        }
        for path, payload in (
            (self._manifest_path(new_id), json.dumps(manifest, indent=1)),
            (self._pointer(), str(new_id)),
        ):
            tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            os.rename(tmp, path)
        return new_id

    def _current_schema(self) -> list[dict]:
        sid = self.latest_snapshot_id()
        if sid is None:
            raise ValueError(f"empty snapshot table at {self.root}")
        schema = self.manifest(sid).get("schema")
        if not schema:
            raise ValueError(
                "table predates schema tracking — run one data commit "
                "before using schema DDL"
            )
        return [dict(f) for f in schema]

    def rename_column(self, old: str, new: str) -> int:
        """RENAME COLUMN as metadata: the field keeps its id, so every
        existing data dir (written under the old physical name) resolves
        through the id at read time — zero data rewritten, and time
        travel to pre-rename snapshots still serves the old name
        (Iceberg schema-evolution semantics; the reference's BigQuery
        tables would require a full CREATE TABLE AS to rename)."""
        schema = self._current_schema()
        names = {f["name"] for f in schema}
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        for f in schema:
            if f["name"] == old:
                f["name"] = new
        return self._commit_meta("rename_column", schema)

    def add_column(self, name: str, spark_type: str) -> int:
        """ADD COLUMN as metadata: existing dirs have no physical column
        for the new field id, so reads back-fill typed nulls; only data
        committed after this snapshot can carry values."""
        schema = self._current_schema()
        if name in {f["name"] for f in schema}:
            raise ValueError(f"column already exists: {name}")
        # fresh id from the table-level counter, NOT max(schema)+1 — a
        # dropped field's id must stay retired or this re-add would
        # resurrect its values out of old data dirs
        next_id = self._last_field_id(self.manifest(self.latest_snapshot_id())) + 1
        schema.append({"id": next_id, "name": name, "type": spark_type})
        return self._commit_meta("add_column", schema, last_field_id=next_id)

    def drop_column(self, name: str) -> int:
        """DROP COLUMN as metadata: the field leaves the tracked schema
        (reads stop projecting it) but the physical data stays — time
        travel to pre-drop snapshots still sees the column, and a
        re-add under the same name gets a FRESH field id, so it does
        not resurrect dropped values (the Iceberg id rule)."""
        schema = self._current_schema()
        if name not in {f["name"] for f in schema}:
            raise ValueError(f"no such column: {name}")
        return self._commit_meta(
            "drop_column", [f for f in schema if f["name"] != name]
        )

    # -- reads ---------------------------------------------------------------
    @staticmethod
    def _needs_projection(m: dict, rel_dir: str) -> bool:
        """True iff ``rel_dir``'s physical columns differ from the
        manifest's current schema — a rename happened, a column was
        added after the dir was written (null back-fill needed), or a
        column was dropped (physical data to hide) — or the dir was
        written under a partition spec (partition columns must be
        restored from directory names and re-typed, which the plain
        multi-path scan cannot do across mixed layouts). Legacy dirs
        with no recorded dir_cols read on the plain path."""
        if (m.get("specs") or {}).get(rel_dir):
            return True
        schema = m.get("schema")
        if not schema:
            return False
        phys = (m.get("dir_cols") or {}).get(rel_dir)
        if phys is None:
            return False
        if len(phys) != len(schema):
            return True
        return any(phys.get(str(f["id"])) != f["name"] for f in schema)

    def _project_dir(
        self, spark: SparkSession, m: dict, rel_dir: str, paths: list[str]
    ) -> DataFrame:
        """Read one data dir under the manifest's CURRENT schema:
        physical columns resolve through their field ids (renames are
        alias-only), fields the dir predates become typed nulls, and
        dropped fields simply aren't selected — the projection is plan
        metadata, so Parquet column pruning still reads only the
        physical columns that survive it. A dir written under a
        partition spec reads with basePath anchored at the dir root, so
        a file-level pruned read still restores its partition-column
        values from the directory names. Partition values are typed by
        the TABLE schema (Iceberg semantics), never by Spark's
        directory-name inference: the read gets an explicit schema with
        partition columns as STRING (inference is skipped entirely when
        a user schema supplies the partition columns), and the only
        typing step is the cast from that string to the tracked type —
        so values like '0123' or '1e5' survive verbatim instead of
        round-tripping through int/double inference."""
        import pyspark.sql.functions as F

        spec = (m.get("specs") or {}).get(rel_dir) or []
        reader = spark.read
        schema = m.get("schema")
        phys = (m.get("dir_cols") or {}).get(rel_dir)
        if spec:
            reader = reader.option(
                "basePath", os.path.join(self.root, rel_dir)
            )
            if schema and phys is not None:
                type_by_id = {str(f["id"]): f["type"] for f in schema}
                parts = []
                for fid, p in phys.items():
                    t = "string" if p in spec else type_by_id.get(fid)
                    if t is not None:  # dropped fields aren't selected
                        parts.append(f"`{p}` {t}")
                reader = reader.schema(", ".join(parts))
        df = reader.parquet(*paths)
        if not schema or phys is None:
            return df
        cols = []
        for f in schema:
            p = phys.get(str(f["id"]))
            if p is None:
                cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
            elif p in spec:
                cols.append(F.col(p).cast(f["type"]).alias(f["name"]))
            elif p == f["name"]:
                cols.append(F.col(p))
            else:
                cols.append(F.col(p).alias(f["name"]))
        return df.select(*cols)

    @staticmethod
    def _delete_current_keys(dd: dict, id_name: dict[str, str]) -> list[str]:
        """The CURRENT names of a delete file's key columns, resolved
        through their field ids (a key column renamed after the delete
        was written anti-joins under its new name). Falls back to the
        write-time name when the id is unknown (legacy entries)."""
        if "key_ids" in dd:
            return [
                id_name.get(str(i), k)
                for i, k in zip(dd["key_ids"], dd["keys"])
            ]
        return list(dd["keys"])

    def _read_projected(
        self,
        spark: SparkSession,
        m: dict,
        paths_by_dir: dict[str, list[str]],
    ) -> DataFrame:
        """Schema-evolution read path: per-dir field-id projection, then
        the same seq-scoped equality-delete anti-joins as the plain
        path (delete keys resolved to current names). Per-dir reads —
        physical schemas differ across dirs, so one multi-path scan
        can't serve them; the unions are metadata-only."""
        import pyspark.sql.functions as F

        deletes = m.get("deletes", [])
        dir_seqs = m.get("dir_seqs", {})
        id_name = {str(f["id"]): f["name"] for f in m.get("schema", [])}
        out = None
        for d, paths in sorted(paths_by_dir.items()):
            part = self._project_dir(spark, m, d, paths)
            applicable = [
                dd for dd in deletes if dd["seq"] > dir_seqs.get(d, 0)
            ]
            if applicable:
                cur_keys = self._delete_current_keys(applicable[0], id_name)
                keys = None
                for dd in applicable:
                    if self._delete_current_keys(dd, id_name) != cur_keys:
                        raise ValueError(
                            "mixed delete key sets in one table are "
                            f"unsupported: {dd['keys']} vs {cur_keys}"
                        )
                    k = spark.read.parquet(os.path.join(self.root, dd["dir"]))
                    k = k.select(
                        *[
                            F.col(o).alias(n)
                            for o, n in zip(dd["keys"], cur_keys)
                        ]
                    )
                    keys = k if keys is None else keys.unionByName(k)
                part = part.join(
                    F.broadcast(keys.distinct()), cur_keys, "left_anti"
                )
            out = part if out is None else out.unionByName(part)
        return out

    def _read_with_deletes(
        self,
        spark: SparkSession,
        m: dict,
        paths_by_dir: dict[str, list[str]],
    ) -> DataFrame:
        """Assemble a read over ``paths_by_dir`` (rel data dir → absolute
        paths to read from it) applying the manifest's equality deletes:
        a delete file at seq S anti-joins only data dirs with seq < S.
        Dirs are grouped by their applicable-delete set (distinct seqs
        are few), each group anti-joins the BROADCAST union of its
        delete keys once, and the groups union back — one scan of every
        data file, delete files read manifest-count times. Broadcast is
        the right default (delete files hold keys, not rows); a
        deployment whose delete set outgrows the broadcast limit swaps
        in a shuffle anti-join, which is the same plan minus the hint.

        DELETE-FILE PRUNING (round 10): before grouping, every data path
        whose typed key-range stats ('stats_t', collected at commit) are
        DISJOINT from every applicable delete file's key range drops its
        applicable set to () — those files bypass the anti-join entirely
        and ride the plain-scan group (Iceberg's delete-file metrics
        skip). Paths without typed stats stay conservative."""
        import pyspark.sql.functions as F

        # schema-evolution dispatch: if ANY dir's physical columns
        # diverge from the current schema, every dir must be read and
        # projected individually (one multi-path parquet scan can't mix
        # physical schemas) — otherwise the plain path below is both
        # simpler and groups paths into fewer scans
        if any(self._needs_projection(m, d) for d in paths_by_dir):
            return self._read_projected(spark, m, paths_by_dir)
        deletes = m.get("deletes", [])
        if not deletes:
            paths = [p for ps in paths_by_dir.values() for p in ps]
            return spark.read.parquet(*paths)
        dir_seqs = m.get("dir_seqs", {})
        by_dir = {dd["dir"]: dd for dd in deletes}
        groups: dict[tuple, list[str]] = {}
        for d, paths in paths_by_dir.items():
            seq = dir_seqs.get(d, 0)
            applicable = tuple(
                sorted(dd["dir"] for dd in deletes if dd["seq"] > seq)
            )
            for p in paths:
                eff = applicable
                if applicable and self._path_disjoint_from_deletes(
                    m, d, p, [by_dir[a] for a in applicable]
                ):
                    eff = ()
                groups.setdefault(eff, []).append(p)
        out = None
        for applicable, paths in sorted(groups.items()):
            part = spark.read.parquet(*paths)
            if applicable:
                keys = None
                key_cols = by_dir[applicable[0]]["keys"]
                for dd_dir in applicable:
                    if by_dir[dd_dir]["keys"] != key_cols:
                        # a bare assert here would vanish under python -O
                        # and silently anti-join on the wrong key set
                        raise ValueError(
                            "mixed delete key sets in one table are "
                            f"unsupported: {by_dir[dd_dir]['keys']} vs "
                            f"{key_cols}"
                        )
                    k = spark.read.parquet(os.path.join(self.root, dd_dir))
                    keys = k if keys is None else keys.unionByName(k)
                part = part.join(
                    F.broadcast(keys.distinct()), key_cols, "left_anti"
                )
            out = part if out is None else out.unionByName(part)
        return out

    def _path_disjoint_from_deletes(
        self, m: dict, rel_dir: str, path: str, applicable: list[dict]
    ) -> bool:
        """True iff the manifest PROVES ``path`` (an absolute file or
        whole-dir path under ``rel_dir``) shares no key with ANY of the
        ``applicable`` delete files: for every delete there is at least
        one key column where both sides carry typed bounds and the
        ranges are disjoint (equality deletes match only when EVERY
        column matches, so one provably-disjoint column kills the whole
        delete). Missing stats on either side → False (conservative).
        Pure manifest arithmetic — no data I/O; this is Iceberg's
        delete-file metrics skip at scan planning."""
        rel = path[path.find(rel_dir) :] if rel_dir in path else path
        if rel == rel_dir:  # whole-dir read: bounds over ALL its files
            entries = [
                f
                for f in m.get("files", [])
                if f["file"].startswith(rel_dir + os.sep)
            ]
        else:  # single-file read: exactly its entry
            entries = [f for f in m.get("files", []) if f["file"] == rel]
        if not entries:
            return False  # no stats recorded for this path
        for dd in applicable:
            dstats = dd.get("stats_t", {})
            killed = False
            for c in dd["keys"]:
                if c not in dstats:
                    continue
                dmn, dmx = dstats[c]
                bounds = []
                for f in entries:
                    t = f.get("stats_t", {}).get(c)
                    if t is None:
                        bounds = None
                        break
                    bounds.append(t)
                if not bounds:
                    continue  # some file lacks typed stats on c
                fmn = min(b[0] for b in bounds)
                fmx = max(b[1] for b in bounds)
                if not self._comparable(fmn, dmn) or not self._comparable(
                    fmx, dmx
                ):
                    continue
                if fmx < dmn or fmn > dmx:
                    killed = True
                    break
            if not killed:
                return False  # this delete might intersect the path
        return True

    @staticmethod
    def _comparable(a, b) -> bool:
        """Only compare like with like: ints/floats against numbers,
        strings against strings — a str/number comparison would raise,
        and JSON round-trips can mix them for edge-case columns."""
        num = (int, float)
        if isinstance(a, num) and isinstance(b, num):
            return True
        return isinstance(a, str) and isinstance(b, str)

    def _snapshot_id(self, snapshot_id: int | None) -> int:
        """``snapshot_id``, or the latest snapshot's id when it is None;
        raises on a table with no snapshot."""
        sid = self.latest_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"empty snapshot table at {self.root}")
        return sid

    def read_as_of(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        branch: str | None = None,
    ) -> DataFrame:
        """The table as of ``snapshot_id`` (default: current — or the
        head of ``branch``, the AUDIT read of write-audit-publish).
        Reads only the manifest's data dirs — at scale each dir is
        partition-pruned parquet like any other table — and applies any
        merge-on-read equality deletes (seq-scoped anti-joins, see
        ``_read_with_deletes``)."""
        if branch is not None and snapshot_id is None:
            snapshot_id = self.branch_head(branch)
            if snapshot_id is None:
                raise ValueError(f"no staged commits on branch {branch!r}")
        sid = self._snapshot_id(snapshot_id)
        m = self.manifest(sid)
        return self._read_with_deletes(
            spark,
            m,
            {d: [os.path.join(self.root, d)] for d in m["data_dirs"]},
        )

    # -- incremental / CDC reads ----------------------------------------------
    def _require_manifest(self, snapshot_id: int) -> dict:
        if not os.path.exists(self._manifest_path(snapshot_id)):
            raise ValueError(
                f"snapshot {snapshot_id} has been expired — the "
                "incremental-read window is lost; fall back to a full scan"
            )
        return self.manifest(snapshot_id)

    def read_incremental(
        self, spark: SparkSession, from_id: int, to_id: int | None = None
    ) -> DataFrame:
        """APPEND-ONLY incremental read (Iceberg's incremental scan):
        the rows added in snapshots ``(from_id, to_id]``, served by
        scanning ONLY the data dirs those commits added — pure manifest
        arithmetic picks the dirs, no state diff, no read of pre-existing
        data. This is the O(increment) feed for downstream consumers at
        100 TB: a daily ETL that appends 0.1% of the table hands its
        consumers 0.1% of the scan. Raises on a rewrite commit in the
        range (overwrite/merge/compact change existing rows — use
        :meth:`read_changes`); metadata-only schema commits are fine and
        skipped. Reads resolve through the ``to_id`` manifest, so field
        renames/additions in the range project to the final schema."""
        to_id = self.latest_snapshot_id() if to_id is None else to_id
        if to_id is None:
            raise ValueError(f"empty snapshot table at {self.root}")
        added: list[str] = []
        for s in range(from_id + 1, to_id + 1):
            m = self._require_manifest(s)
            op = m["operation"]
            if op in ("rename_column", "add_column", "drop_column"):
                continue
            if op != "append":
                raise ValueError(
                    f"snapshot {s} is a {op!r} commit — the range is not "
                    "append-only; use read_changes for a full changelog"
                )
            added.extend(
                d for d, seq in m.get("dir_seqs", {}).items() if seq == s
            )
        m_to = self._require_manifest(to_id)
        if not added:
            return self._read_with_deletes(
                spark,
                m_to,
                {d: [os.path.join(self.root, d)] for d in m_to["data_dirs"]},
            ).limit(0)
        # no delete file can apply to these dirs inside an append-only
        # range (a delete at seq S only hits dirs with seq < S), so this
        # is a plain scan of the added dirs + schema projection
        return self._read_with_deletes(
            spark, m_to, {d: [os.path.join(self.root, d)] for d in added}
        )

    def read_changes(
        self, spark: SparkSession, from_id: int, to_id: int | None = None
    ) -> DataFrame:
        """CHANGELOG scan (Iceberg changelog / Delta Change Data Feed):
        every row-level change committed in ``(from_id, to_id]``, tagged
        with ``_change_type`` ('insert' | 'delete') and
        ``_commit_snapshot_id``. Per-commit cost is proportional to the
        change, not the table, wherever the manifest allows it:

        - ``append``: the added dirs scan as inserts — O(increment).
        - ``merge_on_read``: the added dirs are the inserts; the deleted
          pre-images are the parent state SEMI-joined to the commit's
          equality-delete keys (broadcast — delete files hold keys, not
          rows) — O(increment + one pass over the parent state's
          surviving files, itself delete-pruned).
        - ``overwrite``/``merge``/``compact`` rewrite files, so the
          changelog is the NETTED state diff (exceptAll both ways):
          rows the rewrite carried forward unchanged cancel out — a
          compaction correctly produces an EMPTY changelog even though
          it rewrote every byte. This is the one O(table) case, exactly
          as in Iceberg, where changelogs over rewrites need a diff.

        An upstream consumer folds the result as ``+insert / -delete``
        to maintain any distributive aggregate incrementally (see
        storage_cdc_incremental_agg). Changelogs spanning a column
        rename report each commit under its own write-time schema
        (union with allowMissingColumns); spanning an expired snapshot
        raises."""
        import pyspark.sql.functions as F

        to_id = self.latest_snapshot_id() if to_id is None else to_id
        if to_id is None:
            raise ValueError(f"empty snapshot table at {self.root}")

        def tag(df: DataFrame, typ: str, s: int) -> DataFrame:
            return df.select(
                "*",
                F.lit(typ).alias("_change_type"),
                F.lit(s).cast("int").alias("_commit_snapshot_id"),
            )

        out = None
        for s in range(from_id + 1, to_id + 1):
            m = self._require_manifest(s)
            op = m["operation"]
            parent = m.get("parent_id")
            if op in ("rename_column", "add_column", "drop_column"):
                continue  # metadata-only: no row changed
            if op in ("append", "merge_on_read"):
                added = [
                    d for d, seq in m.get("dir_seqs", {}).items() if seq == s
                ]
                delta = None
                if added:
                    ins = self._read_with_deletes(
                        spark,
                        m,
                        {d: [os.path.join(self.root, d)] for d in added},
                    )
                    delta = tag(ins, "insert", s)
                new_dd = [
                    dd for dd in m.get("deletes", []) if dd["seq"] == s
                ]
                if new_dd and parent is not None:
                    id_name = {
                        str(f["id"]): f["name"] for f in m.get("schema", [])
                    }
                    cur_keys = self._delete_current_keys(new_dd[0], id_name)
                    keys = None
                    for dd in new_dd:
                        k = spark.read.parquet(
                            os.path.join(self.root, dd["dir"])
                        )
                        k = k.select(
                            *[
                                F.col(o).alias(n)
                                for o, n in zip(dd["keys"], cur_keys)
                            ]
                        )
                        keys = k if keys is None else keys.unionByName(k)
                    dels = self.read_as_of(spark, parent).join(
                        F.broadcast(keys.distinct()), cur_keys, "left_semi"
                    )
                    dels = tag(dels, "delete", s)
                    delta = (
                        dels if delta is None else delta.unionByName(dels)
                    )
            else:  # overwrite / merge / compact: netted state diff
                new_state = self.read_as_of(spark, s)
                if parent is None:
                    delta = tag(new_state, "insert", s)
                else:
                    old_state = self.read_as_of(spark, parent)
                    delta = tag(new_state.exceptAll(old_state), "insert", s)
                    delta = delta.unionByName(
                        tag(old_state.exceptAll(new_state), "delete", s)
                    )
            if delta is None:
                continue
            out = (
                delta
                if out is None
                else out.unionByName(delta, allowMissingColumns=True)
            )
        if out is None:  # empty range: empty frame, current schema + tags
            return tag(self.read_as_of(spark, to_id).limit(0), "insert", 0)
        return out

    @staticmethod
    def _data_dir_of(m: dict, rel_path: str) -> str:
        """The data dir a file rel-path belongs to. os.path.dirname is
        only right for flat dirs — a partition-spec dir nests files
        under key=value subdirs, so resolve by longest matching
        data_dirs prefix instead (falls back to dirname for paths of
        dirs the manifest doesn't list, e.g. in tests)."""
        best = ""
        for d in m.get("data_dirs", []):
            if rel_path.startswith(d + os.sep) and len(d) > len(best):
                best = d
        return best or os.path.dirname(rel_path)

    def scan_pruned(
        self,
        spark: SparkSession,
        col: str,
        lo: str,
        hi: str,
        snapshot_id: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Manifest-stats FILE PRUNING (Iceberg's scan planning): read
        only the files whose [min, max] on ``col`` overlaps [lo, hi].
        Returns (df, files_read, files_total). Bounds compare as the
        stats were stored — strings — which is order-correct for ISO
        dates/timestamps and lexicographic keys (store zero-padded
        numerics for numeric columns). Callers still apply the residual
        row filter; pruning only skips WHOLE files. Files with no
        recorded stats for ``col`` are conservatively kept. The planning
        step is pure manifest arithmetic — no data I/O — which is what
        makes a needle-in-100 TB scan cheap when the table is
        range-clustered on ``col`` (write with repartitionByRange)."""
        sid = self._snapshot_id(snapshot_id)
        m = self.manifest(sid)
        files = m.get("files", [])
        if not files:
            return self.read_as_of(spark, sid), -1, -1
        keep = []
        for f in files:
            mn, mx = f["stats"].get(col, (None, None))
            if mn is None or mx is None or (mx >= lo and mn <= hi):
                keep.append(f["file"])
        return self._read_kept(
            spark, sid, m, [(self._data_dir_of(m, p), p) for p in keep]
        )

    def _read_kept(
        self, spark: SparkSession, sid: int, m: dict, kept: list[tuple[str, str]]
    ) -> tuple[DataFrame, int, int]:
        """The pruned scans' read: the kept files ``(data dir, rel path)``
        of snapshot ``sid`` (manifest ``m``), plus every data dir no
        file stats cover, as ``(df, files_read, files_total)``."""
        # data dirs from commits made WITHOUT stats_cols never appear in
        # the files list — read them wholesale, never silently drop them
        # (conservative = keep anything the stats can't prune)
        covered = {self._data_dir_of(m, f["file"]) for f in m["files"]}
        unstated = [d for d in m["data_dirs"] if d not in covered]
        # group kept paths by their data dir so merge-on-read deletes
        # apply with the correct per-dir seq scoping (same read helper
        # as read_as_of; a no-deletes manifest reads paths directly)
        paths_by_dir: dict[str, list[str]] = {}
        for d, p in kept:
            paths_by_dir.setdefault(d, []).append(os.path.join(self.root, p))
        for d in unstated:
            paths_by_dir.setdefault(d, []).append(os.path.join(self.root, d))
        # metrics count ACTUAL parquet files everywhere — a stats-less
        # data dir holds many part files, and counting it as one unit
        # would understate the pruning ratio (data results are the same
        # either way; only the files_read/files_total report cares);
        # recursive glob covers partition-spec dirs' nested layout
        n_unstated = sum(
            len(
                glob.glob(
                    os.path.join(self.root, d, "**", "*.parquet"),
                    recursive=True,
                )
            )
            for d in unstated
        )
        total = len(m["files"]) + n_unstated
        if not paths_by_dir:  # every file pruned: empty frame, correct schema
            return self.read_as_of(spark, sid).limit(0), 0, total
        return (
            self._read_with_deletes(spark, m, paths_by_dir),
            len(kept) + n_unstated,
            total,
        )

    def manifest_df(
        self, spark: SparkSession, snapshot_id: int | None = None
    ):
        """The snapshot's per-file stats as a DataFrame, persisted once
        per snapshot as a parquet SIDE-TABLE under
        ``_manifests_pq/v<sid>/`` — the 100 TB escalation of the JSON
        manifest that SCALE.md's round-11 probe sized: planning stays
        flat to ~10^5 files driver-side, past which the manifest itself
        must be a distributed relation (Iceberg's avro manifest lists).
        Long format, one row per (file, stats column):

            file STRING, dir STRING, rows LONG,
            col STRING, min_s STRING, max_s STRING

        plus one ``col IS NULL`` row for any stats-covered file that
        has no bounds for a column (none today — kept for schema
        stability). Here the parquet is converted FROM the JSON
        manifest on first use (write-through at commit is the
        production variant); conversion cost is manifest-sized and
        paid once. Returns the DataFrame; callers filter/join it like
        any relation."""
        sid = self._snapshot_id(snapshot_id)
        path = os.path.join(self.root, "_manifests_pq", f"v{sid}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            m = self.manifest(sid)
            rows = []
            for f in m.get("files", []):
                d = self._data_dir_of(m, f["file"])
                stats = f.get("stats", {})
                if stats:
                    for c, (mn, mx) in stats.items():
                        rows.append((f["file"], d, int(f["rows"]), c, mn, mx))
                else:
                    rows.append((f["file"], d, int(f["rows"]), None, None, None))
            schema = (
                "file string, dir string, rows long, "
                "col string, min_s string, max_s string"
            )
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
        return spark.read.parquet(path)

    def scan_pruned_df(
        self,
        spark: SparkSession,
        col: str,
        lo: str,
        hi: str,
        snapshot_id: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """``scan_pruned`` with the pruning arithmetic run as a SPARK
        plan over the parquet manifest side-table (``manifest_df``)
        instead of a driver-side Python loop — the read path that keeps
        scan planning distributed when the file count outgrows the
        driver (SCALE.md round-11 snaptable addendum: ~250 B/file of
        manifest means ~10^6 files is 250 MB of driver JSON; this path
        never loads it). Same contract and conservatism as
        ``scan_pruned``: files overlapping [lo, hi] on ``col`` are
        read, files with no recorded bounds for ``col`` are KEPT, and
        data dirs from stats-less commits are read wholesale. Only the
        SURVIVING file list is collected — O(files matched), the
        needle-sized set a range-clustered layout makes small."""
        import pyspark.sql.functions as F

        sid = self._snapshot_id(snapshot_id)
        m = self.manifest(sid)
        if not m.get("files"):
            return self.read_as_of(spark, sid), -1, -1
        mf = self.manifest_df(spark, sid)
        with_col = mf.filter(F.col("col") == col)
        overlap = with_col.filter(
            (F.col("max_s") >= F.lit(lo)) & (F.col("min_s") <= F.lit(hi))
        ).select("file", "dir")
        # conservative: a stats-covered file with NO bounds row for this
        # column cannot be pruned
        no_bounds = (
            mf.select("file", "dir")
            .distinct()
            .join(with_col.select("file"), "file", "left_anti")
        )
        kept = overlap.unionByName(no_bounds).distinct().collect()
        return self._read_kept(spark, sid, m, [(r["dir"], r["file"]) for r in kept])

    def scan_pruned_multi(
        self,
        spark: SparkSession,
        bounds: dict,
        snapshot_id: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """Multi-column manifest BOX pruning: read only the files whose
        TYPED [min, max] ('stats_t') overlaps ``bounds[col] = (lo, hi)``
        on EVERY column — the read path a Z-ORDERED layout exists for
        (each file owns a compact rectangle in the clustered dimensions,
        so a 2-D box predicate excludes files on either axis; a 1-D
        range-clustered layout can only ever prune on its leading
        column). Typed comparisons, not the legacy string stats — a
        lexicographic compare mis-orders unpadded numerics. A file
        missing typed stats on a column is unprunable ON THAT COLUMN
        but may still be excluded by another; pruning needs only one
        provably-disjoint axis. Returns (df, files_read, files_total);
        callers still apply the residual row filter."""
        sid = self._snapshot_id(snapshot_id)
        m = self.manifest(sid)
        files = m.get("files", [])
        if not files:
            return self.read_as_of(spark, sid), -1, -1

        def pruned(f: dict) -> bool:
            for c, (lo, hi) in bounds.items():
                t = f.get("stats_t", {}).get(c)
                if t is None:
                    continue
                fmn, fmx = t
                if not self._comparable(fmn, lo) or not self._comparable(
                    fmx, hi
                ):
                    continue
                if fmx < lo or fmn > hi:
                    return True  # disjoint on this axis: skip the file
            return False

        keep = [f["file"] for f in files if not pruned(f)]
        return self._read_kept(
            spark, sid, m, [(self._data_dir_of(m, p), p) for p in keep]
        )

    def scan_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        snapshot_id: int | None = None,
    ) -> tuple[DataFrame, int, int]:
        """BLOOM-FILTER point-lookup scan planning (Iceberg's puffin
        secondary-index shape): read only the files whose per-file Bloom
        bitmap on ``col`` (written by ``bloom_cols=`` commits) has every
        bit of ``value`` set. The needle's bit positions are computed
        with the SAME engine hash (one 1-row Spark job — xxhash64 parity
        with the write side by construction, no reimplementation drift).
        Range stats can't help here: a high-cardinality key appears
        across the whole value range, so every file's [min,max] overlaps
        a point predicate — the bloom is what turns a needle-in-100 TB
        equality lookup into a few file reads (~2% false-positive file
        rate at the default sizing). Files without a bloom on ``col``
        are conservatively kept; callers still apply the row filter.
        Returns (df, files_read, files_total)."""
        import base64
        import pyspark.sql.functions as F

        sid = self._snapshot_id(snapshot_id)
        m = self.manifest(sid)
        files = m.get("files", [])
        if not files:
            return self.read_as_of(spark, sid), -1, -1
        # one Row of BLOOM_HASHES positions, hashed by the engine itself
        # — with the needle CAST to the column's actual type first:
        # xxhash64 is type-sensitive (a Python int lands as IntegerType,
        # but a bigint column hashed as long would never match, silently
        # pruning every real file)
        col_type = self.read_as_of(spark, sid).schema[col].dataType
        needle = F.lit(value).cast(col_type)
        row = (
            spark.range(1)
            .select(
                *[
                    F.pmod(
                        F.xxhash64(needle, F.lit(i)),
                        F.lit(self.BLOOM_BITS),
                    ).alias(f"b{i}")
                    for i in range(self.BLOOM_HASHES)
                ]
            )
            .collect()[0]
        )
        positions = [row[f"b{i}"] for i in range(self.BLOOM_HASHES)]

        def might_contain(b64: str) -> bool:
            bm = base64.b64decode(b64)
            return all(bm[p // 8] & (1 << (p % 8)) for p in positions)

        covered = {self._data_dir_of(m, f["file"]) for f in files}
        unstated = [d for d in m["data_dirs"] if d not in covered]
        keep = [
            f["file"]
            for f in files
            if col not in f.get("bloom", {})
            or might_contain(f["bloom"][col])
        ]
        paths_by_dir: dict[str, list[str]] = {}
        for p in keep:
            paths_by_dir.setdefault(self._data_dir_of(m, p), []).append(
                os.path.join(self.root, p)
            )
        for d in unstated:
            paths_by_dir.setdefault(d, []).append(os.path.join(self.root, d))
        n_unstated = sum(
            len(
                glob.glob(
                    os.path.join(self.root, d, "**", "*.parquet"),
                    recursive=True,
                )
            )
            for d in unstated
        )
        total = len(files) + n_unstated
        if not paths_by_dir:
            return self.read_as_of(spark, sid).limit(0), 0, total
        return (
            self._read_with_deletes(spark, m, paths_by_dir),
            len(keep) + n_unstated,
            total,
        )

    # -- maintenance ---------------------------------------------------------
    def remove_orphan_files(self, grace_seconds: float = 259200.0) -> list[str]:
        """Delete data/delete dirs NO manifest references (Iceberg's
        remove_orphan_files): the leftovers of a writer that crashed
        between the data write and the manifest rename — the one gap
        rename-atomicity leaves, invisible to readers but paid for in
        storage forever. EVERY manifest file on disk counts as a
        reference, published or not, so staged branch work is never
        swept. ``grace_seconds`` (default 3 days, the Iceberg default)
        skips dirs younger than the horizon — an IN-FLIGHT commit's data
        dir exists before its manifest does, and a zero-grace sweep
        racing it would delete data the about-to-land manifest
        references (single-writer tables can pass 0). Returns deleted
        dirs."""
        import time

        referenced: set[str] = set()
        for path in glob.glob(os.path.join(self.root, "manifests", "v*.json")):
            with open(path) as f:
                m = json.load(f)
            referenced.update(m.get("data_dirs", []))
            referenced.update(dd["dir"] for dd in m.get("deletes", []))
        deleted: list[str] = []
        now = time.time()
        for full in glob.glob(os.path.join(self.root, "data", "*")):
            if not os.path.isdir(full):
                continue
            rel = os.path.join("data", os.path.basename(full))
            if rel in referenced:
                continue
            if now - os.path.getmtime(full) < grace_seconds:
                continue
            shutil.rmtree(full)
            deleted.append(rel)
        return deleted

    def expire_snapshots(self, keep_from: int) -> list[str]:
        """Drop manifests < ``keep_from`` and delete data AND
        equality-delete dirs no surviving snapshot references (Iceberg's
        expire_snapshots). Returns the deleted dirs."""

        def _dirs(m: dict) -> list[str]:
            return m["data_dirs"] + [dd["dir"] for dd in m.get("deletes", [])]

        latest = self.latest_snapshot_id()
        if latest is None or keep_from <= 1:
            return []
        keep_from = min(keep_from, latest)
        live: set[str] = set()
        for i in range(keep_from, latest + 1):
            # a caller may pass a wider horizon than what survives from
            # earlier, tighter expirations — missing manifests are fine
            if os.path.exists(self._manifest_path(i)):
                live.update(_dirs(self.manifest(i)))
        deleted = []
        for i in range(1, keep_from):
            path = self._manifest_path(i)
            if not os.path.exists(path):
                continue
            for d in _dirs(self.manifest(i)):
                if d not in live and os.path.exists(os.path.join(self.root, d)):
                    shutil.rmtree(os.path.join(self.root, d))
                    deleted.append(d)
            os.remove(path)
        return deleted
