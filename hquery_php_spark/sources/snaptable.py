"""Snapshot-manifest table: Iceberg-semantics commits over parquet.

The north rule reads "per-partition lineage/metrics checkpointed to
Iceberg so the job resumes idempotently".  A row-level anti-join
against the committed doc_ids is correct but O(corpus): at 10^12
committed documents it re-shuffles every committed doc_id on every
resume.  This module supplies the mechanism Iceberg actually uses — an
atomic **snapshot manifest** — so resume cost is O(#batches),
independent of row count (``sources.ingest.batched_extract`` commits
every extraction batch through it):

* data files are staged under unique, commit-scoped directories; a
  reader never lists the data directory, it reads exactly the files
  named by the current snapshot manifest.  Files staged by a job that
  died before its snapshot commit are invisible (no torn reads, no
  cleanup needed for correctness — orphans are garbage, not danger);
* a snapshot is ONE small JSON document (`snaps/snap-%08d.json`)
  created atomically via hardlink-from-temp (``os.link`` fails with
  EEXIST when the sequence number is taken → optimistic retry, the
  same compare-and-swap Iceberg does with a conditional catalog swap /
  object-store conditional PUT);
* every append carries a caller-chosen ``batch_id`` plus a lineage
  dict (row counts, input split, timings).  Committing a batch_id that
  is already in the table is a **no-op**, so a killed-and-resubmitted
  job replays its batch plan and skips committed work by set
  difference over batch ids — never by scanning data.

Scale notes (10^12 docs, 1000 executors): the manifest lists file
paths, not rows — a 4096-batch ingest is 4096 snapshot JSONs of a few
KB each; ``committed_batches()`` reads only the latest manifest
(cumulative batch set is carried forward on every commit, so resume is
one small file read, not a log replay).  Readers pass the file list
straight to the parquet scan, so predicate pushdown / column pruning
behave exactly as a plain parquet read.

This is deliberately a small, testable subset of the Iceberg spec,
cut to the three commit kinds the jobs make:

* ``append`` (operation "append") with additive schema evolution —
  every extraction batch and pipeline phase;
* ``delete_keys`` (operation "delete-mor"), a **merge-on-read equality
  delete**: the key set is committed as an Iceberg-v2-style
  equality-delete file in O(|keys|), and ``read()`` anti-joins it
  against strictly-older data files — the takedown job;
* ``compact`` (operation "compact"), a full rewrite that also
  materializes pending deletes back into a clean layout.

Around them sit snapshot expiry, orphan GC, fsck, manifest-stats file
skipping and **hidden partitioning** (identity / bucket[N] /
truncate[W] transforms; partition values live in the manifest, never
in the read schema).  When a real Iceberg catalog is configured,
``reader.read_documents`` already scans catalog tables and jobs should
prefer it.  The point here is the commit/resume *protocol* and its
tests.

Partitioning scale note: at 10^12 rows a point lookup on a
high-cardinality key (doc_id) cannot be answered by footer min/max —
every file's [min, max] spans the key space.  ``bucket[N]`` fixes
that the way Iceberg does: the writer clusters rows by a deterministic
hash bucket, the manifest records each file's bucket, and a point read
computes the key's bucket driver-side and plans a scan over only that
bucket's files (1/N of the table, no Spark job to decide).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Callable, Dict, List, Optional, Set

from pyspark.sql import DataFrame, SparkSession

__all__ = ["SnapTable"]

_SNAP_FMT = "snap-%08d.json"


class SnapTable:
    """Append-only snapshot table at ``path`` (local/DFS-posix dir).

    ``partition_spec`` (optional, used when the table is CREATED by the
    first append; existing tables read their spec from the manifest and
    a conflicting constructor spec is an error) is a list of transforms,
    Iceberg's hidden partitioning:

    * ``("col", "identity")`` — one partition per distinct value;
    * ``("col", "bucket", N)`` — deterministic hash bucket in [0, N):
      ``crc32(cast(col as string)) mod N``, recomputable driver-side so
      point lookups prune to one bucket without a Spark job;
    * ``("col", "truncate", W)`` — string prefix of width W, or integer
      floor-truncation to multiples of W (pmod — negatives round down,
      matching Iceberg's truncate).

    The transform columns are write-time only: readers get exactly the
    declared table schema (the partition values live in directory names
    and the manifest, never in the data pages).
    """

    def __init__(self, path: str, partition_spec: Optional[list] = None):
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.snap_dir = os.path.join(path, "snaps")
        self.partition_spec = _norm_spec(partition_spec)
        # manifest files are immutable once referenced — cache by name
        self._manifest_cache: Dict[str, dict] = {}

    # ------------------------------------------------------------------
    # snapshot log.
    #
    # Disk layout is SHARDED, Iceberg's snapshot/manifest split: the
    # snapshot JSON holds only the O(#batches) light state (batch ids,
    # lineage, schema, partition spec) plus a list of immutable manifest
    # file names (``mf-*.json``), each carrying the file list + footer
    # stats + partition values + data sequence numbers of one commit's
    # worth of files.  ``_commit`` is the one writer of that metadata:
    # an append writes ONE new manifest for its own files and a light
    # snapshot re-pointing at the parent's manifests, so commit I/O is
    # O(batch), never O(table).  The in-memory view after
    # ``current_snapshot()`` is the full inflated dict — the driver
    # holds O(files) entries, exactly like the InMemoryFileIndex a plain
    # ``spark.read.parquet`` builds.

    def _raw_snapshot(self, snapshot_id: int) -> Optional[dict]:
        """The snapshot JSON as committed (manifest refs, no file view),
        or None when ``snapshot_id`` does not exist.  Every snapshot
        read goes through here."""
        p = os.path.join(self.snap_dir, _SNAP_FMT % snapshot_id)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            snap = json.load(f)
        if "manifests" not in snap:
            raise ValueError(
                "snapshot %d of %s has no manifest list; only "
                "manifest-sharded snapshots are readable"
                % (snapshot_id, self.path)
            )
        return snap

    def _snapshot_ids(self) -> List[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        return sorted(
            int(name[5:-5])
            for name in os.listdir(self.snap_dir)
            if name.startswith("snap-") and name.endswith(".json")
        )

    def _raw_current(self) -> Optional[dict]:
        ids = self._snapshot_ids()
        return self._raw_snapshot(ids[-1]) if ids else None

    def _load_manifest(self, ref: str) -> dict:
        m = self._manifest_cache.get(ref)
        if m is None:
            with open(os.path.join(self.snap_dir, ref)) as f:
                m = json.load(f)
            self._manifest_cache[ref] = m
        return m

    def _inflate(self, snap: Optional[dict]) -> Optional[dict]:
        """Materialize the full file view from the manifest refs."""
        if snap is None:
            return None
        files: List[str] = []
        stats: Dict[str, dict] = {}
        parts: Dict[str, dict] = {}
        fseq: Dict[str, int] = {}
        for ref in snap["manifests"]:
            m = self._load_manifest(ref)
            files.extend(m["files"])
            stats.update(m.get("file_stats", {}))
            parts.update(m.get("file_partitions", {}))
            fseq.update(m.get("file_seq", {}))
        out = {**snap, "files": files, "file_stats": stats}
        if parts or snap.get("partition_spec"):
            out["file_partitions"] = parts
        if fseq:
            out["file_seq"] = fseq
        return out

    def snapshots(self) -> List[dict]:
        """All committed snapshots, oldest first (inflated)."""
        return [self._inflate(self._raw_snapshot(i)) for i in self._snapshot_ids()]

    def current_snapshot(self) -> Optional[dict]:
        return self._inflate(self._raw_current())

    def committed_batches(self) -> Set[str]:
        """Batch ids already in the table — ONE light snapshot read (the
        sharded manifests are not touched), no data scan."""
        snap = self._raw_current()
        return set(snap["batch_ids"]) if snap else set()

    def lineage(self) -> Dict[str, dict]:
        """batch_id → lineage dict recorded at its commit."""
        snap = self._raw_current()
        return dict(snap.get("lineage", {})) if snap else {}

    def row_count(self) -> int:
        """Total committed rows — answered from the snapshot's lineage
        (one small JSON read, no manifest inflation), no scan: COUNT(*)
        at 10^12 rows for free.

        Raises while merge-on-read equality deletes are pending: the
        number of live rows they remove is unknown until a scan applies
        them (Iceberg has the same property — its row counts are
        estimates under v2 deletes).  ``compact()`` materializes the
        deletes and restores exact manifest-answered counts; an exact
        count before that is ``read(spark).count()``."""
        snap = self._raw_current()
        if snap and snap.get("equality_deletes"):
            raise ValueError(
                "table %s has %d pending equality-delete file(s); "
                "row_count() is exact only after compact() applies them "
                "(or count via read())"
                % (self.path, len(snap["equality_deletes"]))
            )
        return sum(l.get("n_rows", 0) for l in self.lineage().values())

    # ------------------------------------------------------------------
    # write path

    def append(
        self,
        df: DataFrame,
        batch_id: str,
        lineage: Optional[dict] = None,
        allow_evolution: bool = False,
        on_commit: Optional[Callable[[dict], None]] = None,
    ) -> dict:
        """Stage ``df`` as parquet, then atomically commit a snapshot.

        Idempotent on ``batch_id``: if the current snapshot already
        contains it, nothing is written and the current snapshot is
        returned unchanged (the caller's retry/resume loop needs no
        special-casing).  Raises ``ValueError`` on a schema mismatch
        with the table's recorded schema (names+types, order-blind).

        ``on_commit(snapshot)`` runs right after THIS call's commit and
        never on a no-op (the batch already present, or a concurrent
        duplicate winning the race), so a caller can attach per-batch
        side output that must exist once per committed batch
        (``sources.ingest``'s metrics sidecar).

        ``allow_evolution=True`` permits ADDITIVE evolution (Iceberg
        add-column): extra top-level fields in ``df`` widen the table
        schema, and files written before the addition read back as NULL
        for the new columns (read() scans with the explicit manifest
        schema).  Dropping or re-typing existing fields is always an
        error — this table does type widening nowhere.

        Returns the committed snapshot in RAW (manifest) form — batch
        ids, lineage, snapshot/parent ids and schema are all present,
        but the materialized file list is not spread inline; use
        ``current_snapshot()``/``read()`` for the file view.  This is
        what keeps append metadata I/O O(1): the commit reads one
        snapshot JSON and writes one manifest + one snapshot JSON,
        never touching the table's other manifest shards.
        """
        def _resolve_schema(snap: Optional[dict]) -> str:
            """Validate df against the CURRENT table schema and return the
            schema the new snapshot should carry.  Called fresh on every
            CAS attempt: a lost race means another writer may have evolved
            the schema (or created the table) since the last read, and a
            decision made against the stale snapshot would commit a wrong
            or unvalidated schema."""
            if snap is None:
                return df.schema.json()
            table_fields = json.loads(snap["schema"])["fields"]
            want = _schema_key(json.loads(snap["schema"]))
            have_json = json.loads(df.schema.json())
            have = _schema_key(have_json)
            if want == have:
                return snap["schema"]
            # additive only: every table (name, type) must appear
            # unchanged in df (a re-typed field fails the subset test
            # — a df cannot carry the same name twice)
            if not (allow_evolution and want <= have):
                raise ValueError(
                    "schema mismatch vs table %s: table=%s df=%s"
                    % (self.path, sorted(want), sorted(have))
                )
            known = {f["name"] for f in table_fields}
            new_fields = [
                f for f in have_json["fields"] if f["name"] not in known
            ]
            return json.dumps({**have_json, "fields": table_fields + new_fields})

        # all commit-side decisions read the RAW snapshot only (schema,
        # batch_ids, partition_spec, manifest refs + summaries live in
        # the one snapshot JSON): an append never inflates the manifest
        # list, so its metadata I/O is O(1) + O(batch) no matter how many
        # shards the table has accumulated — the commit-side twin of
        # plan_scan's read-side property
        snap = self._raw_current()
        if snap and batch_id in snap["batch_ids"]:
            return snap
        _resolve_schema(snap)  # fail fast BEFORE paying for the staging write
        spec = self._effective_spec(snap, df)

        # 1. stage data under a unique dir — invisible until the snapshot
        #    commit below; a crash here leaves only orphan files.
        t0 = time.time()
        stage_rel = os.path.join("data", "b-%s-%s" % (batch_id, uuid.uuid4().hex))
        files, n_rows, stats, parts = self._stage(df, stage_rel, spec)

        # 2. commit: optimistic create-exclusive of the next sequence
        #    number; EEXIST ⇒ somebody else committed — re-read, re-check
        #    idempotence, retry at N+1.
        while True:
            snap = self._raw_current()
            if snap and batch_id in snap["batch_ids"]:
                return snap  # concurrent duplicate won the race — no-op
            if self._effective_spec(snap, df) != spec:
                # lost a CAS to a creator with a different partition spec:
                # the data is already staged with the WRONG layout — it
                # cannot be committed, only re-staged by the caller
                raise ValueError(
                    "partition spec of %s changed under this append "
                    "(concurrent table creation); re-run the append"
                    % self.path
                )
            fields = {
                # Iceberg snapshot summary operation: incremental reads
                # walk the chain and accept only "append" links
                "operation": "append",
                # re-validated per attempt against the FRESH snapshot — a
                # lost CAS may mean the schema evolved under us
                "schema": _resolve_schema(snap),
                # cumulative: resume reads ONLY the latest snapshot
                "batch_ids": sorted(
                    set(snap["batch_ids"] if snap else ()) | {batch_id}
                ),
                "lineage": {
                    **(snap or {}).get("lineage", {}),
                    batch_id: {
                        **(lineage or {}),
                        "n_rows": n_rows,
                        "n_files": len(files),
                        "wall_s": round(time.time() - t0, 3),
                    },
                },
                # an append rewrites nothing: the parent's rewrite
                # marker stops here (layout and pending equality
                # deletes carry forward — the deletes apply only to
                # files with a smaller data sequence, so this batch is
                # unaffected by them)
                "compaction_of": None,
            }
            if snap is None:
                fields["layout"] = "batch"
                if spec:
                    fields["partition_spec"] = spec
            committed = self._commit(
                snap, fields, added=files, stats=stats, parts=parts
            )
            if committed is not None:
                if on_commit is not None:
                    on_commit(committed)
                return committed

    # ------------------------------------------------------------------
    # partitioned staging

    def _effective_spec(self, snap: Optional[dict], df: DataFrame) -> list:
        """The partition spec this write must use: the table's recorded
        spec when the table exists (a conflicting constructor spec is an
        error — Iceberg spec evolution is out of scope), else the
        constructor's.  Also rejects transform-column name collisions."""
        if snap is not None:
            tspec = snap.get("partition_spec") or []
            if self.partition_spec and self.partition_spec != tspec:
                raise ValueError(
                    "partition spec mismatch vs table %s: table=%s ctor=%s"
                    % (self.path, tspec, self.partition_spec)
                )
            spec = tspec
        else:
            spec = self.partition_spec
        if spec:
            names = set(df.columns)
            for p in spec:
                if p["src"] not in names:
                    raise ValueError(
                        "partition source column %r missing from df" % p["src"]
                    )
                if p["name"] in names:
                    raise ValueError(
                        "df column %r collides with a partition transform"
                        % p["name"]
                    )
        return spec

    def _stage(self, df: DataFrame, stage_rel: str, spec: list):
        """Write ``df`` under ``stage_rel`` (partitioned by the spec's
        transform columns when there is one) and return
        ``(files, n_rows, stats, partitions)`` from the parquet footers
        and directory names — no data read, no Spark job beyond the
        write itself."""
        stage_abs = os.path.join(self.path, stage_rel)
        if spec:
            w = df
            for p in spec:
                w = w.withColumn(p["name"], _transform_col(p, dict(df.dtypes)))
            # transform columns become directory names only — partitionBy
            # drops them from the data pages, so the files carry exactly
            # the declared table schema (hidden partitioning).  No
            # pre-shuffle: clustering the write would serialize it to
            # #partition-values tasks; instead every task fans out one
            # file per value it holds (≤ tasks × values per batch) and
            # compact() re-clusters when the small files accumulate.
            w.write.mode("error").partitionBy(*[p["name"] for p in spec]).parquet(
                stage_abs
            )
        else:
            df.write.mode("error").parquet(stage_abs)
        files = self._staged_files(stage_abs)
        n_rows = sum(
            _footer_rows(os.path.join(self.path, f)) for f in files
        )
        stats = _file_stats(self.path, files)
        parts = (
            {f: _parse_partition_values(f, spec) for f in files} if spec else {}
        )
        return files, n_rows, stats, parts

    def _staged_files(self, stage_abs: str) -> List[str]:
        """Table-relative paths of the parquet files a write left under
        ``stage_abs`` (hive partition dirs included), sorted."""
        files = []
        for root, _dirs, names in os.walk(stage_abs):
            rel_root = os.path.relpath(root, self.path)
            files.extend(
                os.path.join(rel_root, f) for f in names if f.endswith(".parquet")
            )
        return sorted(files)

    def _commit(
        self,
        parent: Optional[dict],
        fields: dict,
        added: List[str] = (),
        stats: Optional[dict] = None,
        parts: Optional[dict] = None,
        replace: bool = False,
    ) -> Optional[dict]:
        """One CAS attempt of the snapshot after ``parent`` — the only
        writer of commit metadata.

        ``parent`` is the current snapshot (raw or inflated; None creates
        the table).  The new snapshot carries the parent's light keys,
        then ``fields`` — what the operation sets; a field given as None
        is removed.  Its manifest list re-points every parent manifest by
        reference (append, delete_keys), or none of them when
        ``replace`` (compact rewrites every file).  Either way no parent
        manifest is loaded, so commit I/O is O(batch) at any table size.
        The ``added`` files (with their footer ``stats`` and partition
        values ``parts``) land in ONE new manifest at the new snapshot's
        data sequence (Iceberg v2: equality deletes apply only to
        strictly-older files).  Manifests are never mutated after a
        snapshot references them, and their summaries are carried
        verbatim, so scan planning can skip whole shards without
        loading them.

        Returns the committed snapshot in raw form, or None on a lost
        CAS (the caller re-reads and retries; the manifest written here
        becomes an orphan that ``remove_orphans`` reclaims)."""
        os.makedirs(self.snap_dir, exist_ok=True)
        seq = parent["snapshot_id"] + 1 if parent else 1
        refs: List[str] = []
        sums: Dict[str, dict] = {}
        if parent and not replace:
            refs = list(parent["manifests"])
            parent_sums = parent.get("manifest_summaries", {})
            sums = {r: parent_sums[r] for r in refs if r in parent_sums}
        if added:
            m = {
                "files": list(added),
                "file_stats": stats or {},
                "file_seq": dict.fromkeys(added, seq),
            }
            if parts:
                m["file_partitions"] = parts
            ref = "mf-%08d-%s.json" % (seq, uuid.uuid4().hex)
            with open(os.path.join(self.snap_dir, ref), "w") as f:
                json.dump(m, f)
                f.flush()
                os.fsync(f.fileno())
            self._manifest_cache[ref] = m
            refs.append(ref)
            sums[ref] = _manifest_summary(m)
        new = {
            k: v
            for k, v in (parent or {}).items()
            if k not in ("files", "file_stats", "file_partitions", "file_seq")
        }
        new["snapshot_id"] = seq
        new["parent"] = parent["snapshot_id"] if parent else None
        for k, v in fields.items():
            if v is None:
                new.pop(k, None)
            else:
                new[k] = v
        new["manifests"] = refs
        new["manifest_summaries"] = sums
        new["committed_at"] = time.time()
        return new if self._try_commit(seq, new) else None

    def _try_commit(self, seq: int, snap: dict) -> bool:
        """Create snapshot ``seq`` atomically (the CAS); False when the
        sequence number is already taken."""
        tmp = os.path.join(self.snap_dir, ".tmp-%s" % uuid.uuid4().hex)
        final = os.path.join(self.snap_dir, _SNAP_FMT % seq)
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic create-if-absent (CAS)
            return True
        except FileExistsError:
            return False  # lost the race — caller re-reads and retries
        finally:
            os.unlink(tmp)

    # ------------------------------------------------------------------
    # merge-on-read delete

    def delete_keys(
        self,
        keys_df: DataFrame,
        key_cols: Optional[list] = None,
        delete_id: Optional[str] = None,
    ) -> dict:
        """Merge-on-read equality delete (Iceberg v2 DELETE): rows whose
        ``key_cols`` values appear in ``keys_df`` stop being visible to
        ``read()``, but NO data file is rewritten — the commit stages the
        (distinct) key set as an **equality-delete parquet file** and
        re-points the snapshot, so commit cost is O(|keys|), never
        O(table).  This is the takedown/decontamination story at 10^12
        rows: removing a million doc_ids from a 100 TB table costs one
        small parquet write plus one snapshot JSON; the next ``compact()``
        materializes the deletes back into a clean layout.

        Semantics (exactly Iceberg's): a delete committed at snapshot S
        applies to data files whose own commit sequence is < S — rows
        with a deleted key that are appended AFTER the delete are new
        data and survive.  NULL keys are rejected (equality on NULL is
        not definable across engines); keys are deduplicated before
        staging.  ``delete_id`` makes the commit idempotent for resumable
        jobs: a second call with the same id is a no-op, also after a
        ``compact()`` has materialized the first (the snapshot carries
        materialized ids forward in ``materialized_delete_ids``), so a
        replay never re-deletes rows appended since.

        Read cost until compaction: one anti-join per delete commit
        against its key set — small vs the scan (AQE broadcasts the key
        side when it fits; a corpus-proportional key set should go
        through ``compact()`` soon after).  ``row_count()`` is undefined
        while deletes are pending (it raises); ``read_incremental`` over
        a range containing this commit raises, as for every non-append
        operation.
        """
        from pyspark.sql import functions as F

        snap = self.current_snapshot()
        if snap is None:
            raise ValueError("table %s has no snapshots" % self.path)
        if _has_delete(snap, delete_id):
            return snap  # resumed job replaying a committed delete
        key_cols = list(key_cols or keys_df.columns)
        table_fields = {
            f["name"]: f for f in json.loads(snap["schema"])["fields"]
        }
        df_fields = {
            f["name"]: f for f in json.loads(keys_df.schema.json())["fields"]
        }
        for c in key_cols:
            if c not in table_fields:
                raise ValueError(
                    "delete key column %r is not in table %s" % (c, self.path)
                )
            if c not in df_fields:
                raise ValueError("keys_df is missing key column %r" % c)
            if df_fields[c]["type"] != table_fields[c]["type"]:
                # a silent join-time cast could false-negative the match;
                # the caller must hand keys in the table's exact type
                raise ValueError(
                    "delete key %r type mismatch vs table %s: %s != %s"
                    % (c, self.path, df_fields[c]["type"], table_fields[c]["type"])
                )
        keys = keys_df.select(*key_cols).dropDuplicates()
        null_pred = None
        for c in key_cols:
            p = F.col(c).isNull()
            null_pred = p if null_pred is None else (null_pred | p)
        if keys.where(null_pred).take(1):
            raise ValueError(
                "delete keys contain NULL in %s — equality deletes are "
                "defined over non-null keys only" % str(key_cols)
            )
        stage_rel = os.path.join("data", "eqdel-%s" % uuid.uuid4().hex)
        files, n_keys, _stats, _parts = self._stage(keys, stage_rel, [])
        if n_keys == 0:
            return snap  # nothing to delete — no commit
        while True:
            cur = self.current_snapshot()
            if cur is None:
                raise ValueError("table %s vanished under delete_keys" % self.path)
            if _has_delete(cur, delete_id):
                return cur  # lost the race to our own replay
            entry = {
                "files": files,
                "key_cols": key_cols,
                "n_keys": n_keys,
                # applies to data files with file_seq strictly below this
                "seq": cur["snapshot_id"] + 1,
            }
            if delete_id is not None:
                entry["delete_id"] = delete_id
            # no data file changes: every manifest is re-pointed as-is
            new = self._commit(
                cur,
                {
                    "operation": "delete-mor",
                    "equality_deletes": cur.get("equality_deletes", []) + [entry],
                },
            )
            if new is not None:
                return self._inflate(new)

    def pending_deletes(self) -> List[dict]:
        """The equality-delete entries ``read()`` is currently merging
        (empty after ``compact()`` materializes them) — one light
        snapshot read."""
        snap = self._raw_current()
        return list(snap.get("equality_deletes", [])) if snap else []

    # ------------------------------------------------------------------
    # maintenance: compaction + expiry (the small-file problem)

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        min_files: int = 2,
    ) -> Optional[dict]:
        """Rewrite the current file set into ~target-sized files.

        Many batch commits → many small parquet files → scan-planning
        and open() overhead dominate at scale; Iceberg solves this with
        a rewrite-data-files action and so does this.  The compacted
        snapshot REPLACES the file list but carries the cumulative
        batch_ids and lineage forward, so manifest resume is unaffected.
        Older snapshots still reference the original files (time travel
        keeps working) until ``expire_snapshots`` reclaims them.
        Returns the new snapshot, or None when there was nothing to do.
        """
        snap = self.current_snapshot()
        if snap is None or not snap["files"]:
            return None
        # pending equality deletes force a rewrite even on a single file:
        # compaction is the action that MATERIALIZES merge-on-read
        # deletes back into a clean layout (Iceberg rewrite-data-files)
        pending = bool(snap.get("equality_deletes"))
        if len(snap["files"]) < min_files and not pending:
            return None
        total = sum(
            os.path.getsize(os.path.join(self.path, f)) for f in snap["files"]
        )
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        if n_out >= len(snap["files"]) and not pending:
            return None  # already at-or-below target granularity
        spec = snap.get("partition_spec") or []
        df = self.read(spark)
        if spec:
            # re-cluster on the recomputed transform columns so the
            # rewrite preserves partition pruning (one shuffle — the
            # price of keeping files partition-pure)
            dtypes = dict(df.dtypes)
            for p in spec:
                df = df.withColumn(p["name"], _transform_col(p, dtypes))
            writer = (
                df.repartition(int(n_out), *[p["name"] for p in spec])
                .write.mode("error")
                .partitionBy(*[p["name"] for p in spec])
            )
        else:
            writer = df.coalesce(int(n_out)).write.mode("error")  # no shuffle
        stage_rel = os.path.join("data", "compact-%s" % uuid.uuid4().hex)
        stage_abs = os.path.join(self.path, stage_rel)
        writer.parquet(stage_abs)
        files = self._staged_files(stage_abs)
        stats = _file_stats(self.path, files)
        parts = {f: _parse_partition_values(f, spec) for f in files} if spec else None
        cur = self._raw_current()
        if cur["snapshot_id"] != snap["snapshot_id"]:
            return None  # concurrent commit — drop this rewrite, retry later
        fields = {
            "operation": "compact",
            "compaction_of": cur["snapshot_id"],
            "layout": "compacted",  # sticky: appends carry it forward
        }
        if pending:
            # the rewrite read through read(), which merged the pending
            # equality deletes — they are materialized now.  Reconcile
            # lineage with ONE negative correction entry so
            # row_count()/fsck stay exact (the per-key overlap was
            # unknowable until this scan).
            fields["equality_deletes"] = None
            staged_rows = sum(
                _footer_rows(os.path.join(self.path, f)) for f in files
            )
            lin = dict(cur["lineage"])
            expected = sum(l.get("n_rows", 0) for l in lin.values())
            if staged_rows != expected:
                lin["__eqdelete_snap%08d__" % (cur["snapshot_id"] + 1)] = {
                    "n_rows": staged_rows - expected,
                    "n_files": 0,
                    "applied_deletes": len(cur["equality_deletes"]),
                }
            fields["lineage"] = lin
            # the ids stay committed: a replayed delete_keys(delete_id=)
            # must stay a no-op once its pending entry is gone
            ids = [
                d["delete_id"] for d in cur["equality_deletes"] if "delete_id" in d
            ]
            if ids:
                fields["materialized_delete_ids"] = (
                    cur.get("materialized_delete_ids", []) + ids
                )
        new = self._commit(
            cur, fields, added=files, stats=stats, parts=parts, replace=True
        )
        # a lost CAS means a concurrent commit: drop this rewrite
        return None if new is None else self._inflate(new)

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop all but the newest ``keep_last`` snapshots and delete
        data files referenced ONLY by the dropped ones (post-compaction
        space reclaim).  Never touches unreferenced staging dirs — a
        crashed-writer orphan might be an in-flight commit; that cleanup
        is a separate age-based sweep (``remove_orphans``)."""
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"snapshots_dropped": 0, "files_deleted": 0}
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]

        def _refs(s: dict) -> Set[str]:
            # data files plus any equality-delete files the snapshot's
            # reads merge — both must survive for time travel to it
            return set(s["files"]) | {
                f
                for d in s.get("equality_deletes", [])
                for f in d["files"]
            }

        live = {f for s in kept for f in _refs(s)}
        dead = {f for s in dropped for f in _refs(s)} - live
        # snapshots FIRST, then their manifests, files last: a crash in
        # between leaves only unreferenced manifests/files (harmless
        # orphans a later sweep reclaims) — the reverse order would leave
        # listed snapshots whose loads/scans explode on deleted paths
        for s in dropped:
            os.unlink(os.path.join(self.snap_dir, _SNAP_FMT % s["snapshot_id"]))
        kept_refs = {r for s in kept for r in s["manifests"]}
        for r in sorted(
            {r for s in dropped for r in s["manifests"]} - kept_refs
        ):
            p = os.path.join(self.snap_dir, r)
            if os.path.exists(p):
                os.unlink(p)
            self._manifest_cache.pop(r, None)
        emptied = set()
        for f in sorted(dead):
            p = os.path.join(self.path, f)
            if os.path.exists(p):
                os.unlink(p)
            # the top-level staging dir (partitioned layouts nest hive
            # dirs below it — the whole unit empties together)
            emptied.add(os.path.join(self.path, *f.split(os.sep)[:2]))
        for d in emptied:  # drop staging dirs holding no data anymore
            if os.path.isdir(d) and not any(
                n.endswith(".parquet")
                for _r, _d, names in os.walk(d)
                for n in names
            ):
                import shutil

                shutil.rmtree(d)
        return {"snapshots_dropped": len(dropped), "files_deleted": len(dead)}

    def remove_orphans(self, older_than_s: float = 86400.0) -> int:
        """Delete staging dirs never referenced by ANY snapshot and older
        than the grace window (Iceberg's remove-orphan-files): leftovers
        of jobs that died between staging and their snapshot commit.
        Also reclaims manifest files of lost-CAS commit attempts (written
        before the snapshot CAS, referenced by nothing)."""
        snaps = self.snapshots()
        live_refs = {r for s in snaps for r in s["manifests"]}
        n_mf = 0
        now = time.time()
        if os.path.isdir(self.snap_dir):
            for name in sorted(os.listdir(self.snap_dir)):
                if not (name.startswith("mf-") and name.endswith(".json")):
                    continue
                p = os.path.join(self.snap_dir, name)
                if name in live_refs or now - os.path.getmtime(p) < older_than_s:
                    continue
                os.unlink(p)
                self._manifest_cache.pop(name, None)
                n_mf += 1
        # top-level staging dir (data/<dir>) — partitioned layouts nest
        # hive dirs below it, so the immediate parent is not the unit
        referenced = {
            os.path.join(self.path, *f.split(os.sep)[:2])
            for s in snaps
            for f in list(s["files"])
            + [x for d in s.get("equality_deletes", []) for x in d["files"]]
        }
        n = n_mf
        if not os.path.isdir(self.data_dir):
            return n
        for d in sorted(os.listdir(self.data_dir)):
            p = os.path.join(self.data_dir, d)
            if p in referenced or not os.path.isdir(p):
                continue
            if now - os.path.getmtime(p) < older_than_s:
                continue
            import shutil

            shutil.rmtree(p)
            n += 1
        return n

    def fsck(self) -> dict:
        """Integrity check of the current snapshot against the filesystem:
        every manifest-listed file must exist, and per-batch footer row
        counts must equal the lineage recorded at commit time.  Footer
        metadata only — no data pages, no Spark job.  Compaction rewrites
        the file layout, so per-batch row reconciliation is only possible
        on uncompacted tables; after a compact only the total is checked.
        """
        import pyarrow.parquet as pq

        snap = self.current_snapshot()
        if snap is None:
            return {"ok": True, "missing_files": [], "batch_mismatches": []}
        delete_files = [
            f for d in snap.get("equality_deletes", []) for f in d["files"]
        ]
        missing = [
            f
            for f in list(snap["files"]) + delete_files
            if not os.path.exists(os.path.join(self.path, f))
        ]
        rows_by_batch: Dict[str, int] = {}
        total_rows = 0
        for f in snap["files"]:
            p = os.path.join(self.path, f)
            if not os.path.exists(p):
                continue
            n = pq.ParquetFile(p).metadata.num_rows
            total_rows += n
            # uncompacted layout: data/b-<batch_id>-<uuid32>/[p_x=v/]part-*
            bid = _batch_of(f)
            if bid is not None:
                rows_by_batch[bid] = rows_by_batch.get(bid, 0) + n
        lineage = snap.get("lineage", {})
        expected_total = sum(l.get("n_rows", 0) for l in lineage.values())
        mismatches = []
        if snap.get("layout", "batch") == "compacted" or "compaction_of" in snap:
            if not missing and total_rows != expected_total:
                mismatches.append(
                    {"batch": "__total__", "expected": expected_total,
                     "found": total_rows}
                )
        else:
            for bid, l in lineage.items():
                got = rows_by_batch.get(bid, 0)
                if got != l.get("n_rows", 0):
                    mismatches.append(
                        {"batch": bid, "expected": l.get("n_rows", 0),
                         "found": got}
                    )
        return {
            "ok": not missing and not mismatches,
            "missing_files": missing,
            "batch_mismatches": mismatches,
            # informational: data-file row reconciliation above is over
            # PHYSICAL rows, which pending merge-on-read deletes do not
            # change — the live-row delta materializes at compact()
            "pending_deletes": len(snap.get("equality_deletes", [])),
        }

    # ------------------------------------------------------------------
    # read path

    def read(
        self,
        spark: SparkSession,
        snapshot_id: Optional[int] = None,
        between: Optional[tuple] = None,
        partition_where: Optional[dict] = None,
        eq: Optional[tuple] = None,
    ) -> Optional[DataFrame]:
        """Scan the table as of the current (or a past) snapshot.

        Returns None for an empty table.  The scan is handed the exact
        manifest file list — pushdown/pruning work as with any parquet
        read, and files from uncommitted (crashed) writers can never
        appear.

        ``between=(col, lo, hi)`` additionally prunes files whose
        footer-derived [min, max] for ``col`` cannot intersect [lo, hi]
        BEFORE the scan is planned (manifest-stats file skipping): a
        point/range lookup on a 10^12-row table touches only the files
        that can contain it.  Files without recorded stats are kept
        (pruning is only ever an optimization), and the row-level
        predicate is still applied for exactness.

        ``partition_where={name: value | [values]}`` prunes on the
        manifest's per-file partition values — EXACT (a file in
        partition v holds exactly the rows whose transform value is v),
        so no residual row filter is added; the result is all rows whose
        transform lands in the given value set.

        ``eq=(col, value)`` is the point-lookup path: partition pruning
        through every transform whose source is ``col`` (bucket/truncate
        are recomputed driver-side), footer-stats pruning, AND the exact
        row predicate ``col == value``.  On a bucket[N]-partitioned
        10^12-row table this plans a scan over ~1/N of the files with no
        Spark job spent deciding.

        Planning goes through ``plan_scan`` (two-level: manifest-list
        summaries first, per-file metadata second), so a selective read
        also never LOADS the manifest shards it prunes — planning I/O
        scales with the matching subset, not the table.
        """
        plan = self.plan_scan(
            snapshot_id=snapshot_id,
            between=between,
            partition_where=partition_where,
            eq=eq,
        )
        if plan is None:
            return None
        files, residual = plan["files"], plan["residual"]
        snap = {**plan["snap"], "file_seq": plan["file_seq"]}
        schema = _schema_from_json(snap["schema"])
        if not files:
            df = spark.createDataFrame([], schema=schema)
        else:
            # explicit manifest schema (not footer inference): files
            # written before an additive evolution read as NULL for the
            # later-added columns, and the column order is stable; the
            # helper merges any pending equality deletes into the scan
            df = self._scan_with_deletes(spark, snap, files, schema)
        return _apply_residual(df, residual)

    def _scan_with_deletes(
        self, spark: SparkSession, snap: dict, files: List[str], schema
    ) -> DataFrame:
        """Parquet scan over ``files`` with the snapshot's pending
        equality deletes merged in (Iceberg v2 merge-on-read).

        A delete committed at sequence S applies only to data files whose
        own commit sequence is strictly below S, so the planned files are
        split driver-side into equivalence classes by *which* deletes
        apply (at most #delete-commits + 1 classes — deletes are rare
        maintenance events, and compaction clears them).  Each class is
        one parquet scan anti-joined against the union of its applicable
        key sets, and the classes are unioned back: row predicates from
        the caller still push through the union into every branch, and
        the anti-join's key side is the (small) delete set — AQE
        broadcasts it when it fits, so the merge costs ~one broadcast
        hash anti-join per pending delete commit, never a table shuffle.
        """
        dels = snap.get("equality_deletes") or []
        if not dels:
            return spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in files]
            )
        fseq = snap.get("file_seq", {})
        classes: Dict[tuple, List[str]] = {}
        for f in files:
            key = tuple(
                i for i, d in enumerate(dels) if d["seq"] > fseq.get(f, 0)
            )
            classes.setdefault(key, []).append(f)
        fields = {fl.name: fl for fl in schema.fields}
        branches = []
        for applicable, fs in sorted(classes.items()):
            b = spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in fs]
            )
            # one anti-join per distinct key-column set: delete files
            # sharing key columns union into a single key-side scan
            bygroup: Dict[tuple, List[str]] = {}
            for i in applicable:
                bygroup.setdefault(tuple(dels[i]["key_cols"]), []).extend(
                    dels[i]["files"]
                )
            for kcols, dfiles in sorted(bygroup.items()):
                from pyspark.sql.types import StructType

                kschema = StructType([fields[c] for c in kcols])
                keys = spark.read.schema(kschema).parquet(
                    *[os.path.join(self.path, x) for x in dfiles]
                )
                b = b.join(keys, on=list(kcols), how="left_anti")
            branches.append(b)
        out = branches[0]
        for b in branches[1:]:
            out = out.unionByName(b)
        return out

    def _snapshot_at(self, snapshot_id: Optional[int]) -> Optional[dict]:
        if snapshot_id is None:
            return self.current_snapshot()
        snap = self._raw_snapshot(snapshot_id)
        if snap is None:
            raise ValueError("no snapshot %d in %s" % (snapshot_id, self.path))
        return self._inflate(snap)

    def _plan_files(
        self,
        snap: dict,
        between: Optional[tuple],
        partition_where: Optional[dict],
        eq: Optional[tuple],
    ) -> tuple:
        """Driver-side scan planning over an INFLATED snapshot: apply
        manifest partition values and footer stats to the file list;
        return (files, residual row predicate descriptors).  Never reads
        data and never touches the Spark session; any file lacking the
        needed metadata is kept (pruning only drops provable
        non-matches).  ``plan_scan`` is the lazy two-level equivalent
        that avoids inflating the whole manifest list, and the one reads
        use; this eager form stays as its reference
        (``tests/test_snaptable_plan.py``) and as the baseline
        ``tools/bench_manifest_scale.py`` times it against."""
        spec = snap.get("partition_spec") or []
        want, ranges, residual = _scan_predicates(
            spec, between, partition_where, eq
        )
        files = _prune_file_list(
            snap["files"],
            snap.get("file_stats", {}),
            snap.get("file_partitions", {}),
            want,
            ranges,
        )
        return files, residual

    def plan_scan(
        self,
        snapshot_id: Optional[int] = None,
        between: Optional[tuple] = None,
        partition_where: Optional[dict] = None,
        eq: Optional[tuple] = None,
    ) -> Optional[dict]:
        """Two-level lazy scan planning (Iceberg's manifest-list walk):
        decide which MANIFEST SHARDS can contain matching files from the
        snapshot's per-manifest summaries, load only those, then prune
        per-file inside them.  Planning metadata I/O is therefore
        O(matching manifests), not O(table): a bucket[N] point lookup on
        a table with thousands of manifest shards reads the snapshot
        JSON plus the handful of shards whose summary covers the key's
        bucket — the property that keeps planning sub-second at 10^12
        rows.  Returns None for an empty table, else a dict with the
        planned ``files`` (manifest order, same as ``read``), the
        ``residual`` row predicates, ``file_seq`` for the planned files
        (merge-on-read delete sequencing), the raw ``snap``, and the
        evidence counters ``manifests_total/manifests_loaded/
        files_total/files_kept``.  Results are identical to inflating
        everything and running ``_plan_files`` — summaries only ever
        skip shards that provably contain no match, and shards without
        a summary are always loaded."""
        if snapshot_id is None:
            raw = self._raw_current()
        else:
            raw = self._raw_snapshot(snapshot_id)
            if raw is None:
                raise ValueError(
                    "no snapshot %d in %s" % (snapshot_id, self.path)
                )
        if raw is None:
            return None
        spec = raw.get("partition_spec") or []
        want, ranges, residual = _scan_predicates(
            spec, between, partition_where, eq
        )
        sums = raw.get("manifest_summaries", {})
        kept: List[str] = []
        fseq: Dict[str, int] = {}
        loaded = 0
        files_total = 0
        for ref in raw["manifests"]:
            s = sums.get(ref)
            if s is not None and not _summary_may_match(s, want, ranges):
                files_total += s.get("n", 0)
                continue  # provably disjoint — shard never read
            m = self._load_manifest(ref)
            loaded += 1
            files_total += len(m["files"])
            sel = _prune_file_list(
                m["files"],
                m.get("file_stats", {}),
                m.get("file_partitions", {}),
                want,
                ranges,
            )
            kept.extend(sel)
            mseq = m.get("file_seq", {})
            for f in sel:
                fseq[f] = mseq.get(f, 0)
        return {
            "snap": raw,
            "files": kept,
            "residual": residual,
            "file_seq": fseq,
            "manifests_total": len(raw["manifests"]),
            "manifests_loaded": loaded,
            "files_total": files_total,
            "files_kept": len(kept),
        }

    def pruned_file_count(
        self,
        between: Optional[tuple] = None,
        partition_where: Optional[dict] = None,
        eq: Optional[tuple] = None,
    ) -> tuple:
        """(files kept, files total) for a read predicate — lets tests
        and operators assert manifest pruning without running a scan."""
        plan = self.plan_scan(
            between=between, partition_where=partition_where, eq=eq
        )
        if plan is None:
            return (0, 0)
        return (plan["files_kept"], plan["files_total"])

    # ------------------------------------------------------------------
    # incremental (changelog) reads

    def read_incremental(
        self,
        spark: SparkSession,
        after_snapshot_id: int,
        to_snapshot_id: Optional[int] = None,
    ) -> DataFrame:
        """Rows ADDED after snapshot ``after_snapshot_id`` up to
        ``to_snapshot_id`` (default: current) — Iceberg's incremental
        append scan.  ``after_snapshot_id=0`` means "since table
        creation".

        Defined ONLY over a pure-append range: if any snapshot in the
        range deleted or compacted rows, "rows added" is not
        representable as a file set and this raises ``ValueError`` (the
        caller falls back to a full ``read()``), exactly Iceberg's
        contract.  Pure-append is proven the way Iceberg proves it: walk
        the snapshot chain and require every link's recorded
        ``operation`` to be "append".  An endpoint-only file-set
        comparison is NOT sound — a batch appended and then deleted
        inside the range leaves the endpoints consistent while
        rows-added is ill-defined — so every snapshot in the range must
        still exist (an expired one raises "no snapshot" rather than
        guessing).

        This is the consume-only-what-is-new primitive at 10^12 rows:
        each downstream run processes the delta — shuffle and scan cost
        ∝ new data, never ∝ corpus.  Metadata I/O is O(delta) too: an
        append never drops a manifest ref, so the added files are
        exactly the files of the manifest refs present in ``to`` but not
        in ``after``, and only those delta shards are loaded.  Reads
        with the TO-snapshot schema, so files appended before an
        additive evolution later in the range surface NULL for the new
        columns, same as a full read.  Always returns a DataFrame (empty
        with the table schema when nothing was added)."""
        if to_snapshot_id is None:
            to_raw = self._raw_current()
        else:
            to_raw = self._raw_snapshot(to_snapshot_id)
            if to_raw is None:
                raise ValueError(
                    "no snapshot %d in %s" % (to_snapshot_id, self.path)
                )
        if to_raw is None:
            raise ValueError("table %s has no snapshots" % self.path)
        after_raw = None
        if after_snapshot_id:
            after_raw = self._raw_snapshot(after_snapshot_id)
            if after_raw is None:
                raise ValueError(
                    "no snapshot %d in %s" % (after_snapshot_id, self.path)
                )
        # intermediates are read RAW — the walk needs only each link's
        # operation record, not its inflated file view
        sids = range(after_snapshot_id + 1, to_raw["snapshot_id"] + 1)
        chain = [
            to_raw if sid == to_raw["snapshot_id"] else self._raw_snapshot(sid)
            for sid in sids
        ]
        for sid, snap in zip(sids, chain):
            if snap is None:
                raise ValueError("no snapshot %d in %s" % (sid, self.path))
        for sid, snap in zip(sids, chain):
            if snap["operation"] != "append":
                raise ValueError(
                    "snapshot %d of %s is a non-append change (%s) — "
                    "incremental rows-added is undefined over %d..%d; "
                    "re-read the table in full"
                    % (sid, self.path, snap["operation"], after_snapshot_id,
                       to_raw["snapshot_id"])
                )
        prior_refs = set(after_raw["manifests"]) if after_raw else set()
        files = [
            f
            for ref in to_raw["manifests"]
            if ref not in prior_refs
            for f in self._load_manifest(ref)["files"]
        ]
        schema = _schema_from_json(to_raw["schema"])
        if not files:
            return spark.createDataFrame([], schema=schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f) for f in files]
        )


def _norm_spec(spec: Optional[list]) -> list:
    """Normalize a user partition spec into the manifest form: a list of
    ``{"src", "transform", "param", "name"}`` dicts.  Accepts tuples
    ``("col",)``, ``("col", "identity")``, ``("col", "bucket", 16)``,
    ``("col", "truncate", 4)`` or equivalent dicts."""
    if not spec:
        return []
    out = []
    for e in spec:
        if isinstance(e, dict):
            d = {
                "src": e["src"],
                "transform": e.get("transform", "identity"),
                "param": e.get("param"),
            }
        else:
            t = tuple(e) if not isinstance(e, str) else (e,)
            d = {
                "src": t[0],
                "transform": t[1] if len(t) > 1 else "identity",
                "param": t[2] if len(t) > 2 else None,
            }
        if d["transform"] not in ("identity", "bucket", "truncate"):
            raise ValueError("unknown partition transform %r" % d["transform"])
        if d["transform"] == "identity":
            d["param"] = None
        elif not (isinstance(d["param"], int) and d["param"] > 0):
            raise ValueError(
                "%s transform needs a positive int param" % d["transform"]
            )
        d["name"] = "p_%s" % d["src"] + (
            ""
            if d["transform"] == "identity"
            else "_%s%d" % (d["transform"][0], d["param"])
        )
        out.append(d)
    return out


def _transform_col(p: dict, dtypes: Dict[str, str]):
    """The Spark expression computing transform ``p`` of its source
    column — the write-side half; ``_transform_value`` is the exact
    driver-side twin used for read pruning."""
    from pyspark.sql import functions as F

    c = F.col(p["src"])
    t = p["transform"]
    if t == "identity":
        return c
    if t == "bucket":
        # crc32 over the string rendering: cheap, stable across Spark
        # versions, and recomputable driver-side (zlib.crc32) so a point
        # lookup needs no Spark job to find its bucket
        return F.pmod(F.crc32(c.cast("string").cast("binary")), F.lit(p["param"])).cast(
            "int"
        )
    if dtypes.get(p["src"]) == "string":
        return F.substring(c, 1, p["param"])
    # integer truncate: floor to multiples of W (pmod ⇒ negatives round
    # DOWN, matching Iceberg's truncate transform)
    return (c - F.pmod(c, F.lit(p["param"]))).cast("long")


def _transform_value(p: dict, v):
    """Driver-side twin of ``_transform_col`` — canonicalized to the
    STRING rendering Spark uses for partition directory names, so
    pruning compares exactly what the writer wrote.  Bucket sources must
    be int/string (their str() matches Spark's cast-to-string)."""
    if v is None:
        return None
    t = p["transform"]
    if t == "bucket":
        import zlib

        return str(zlib.crc32(str(v).encode("utf-8")) % p["param"])
    if t == "truncate":
        v = v[: p["param"]] if isinstance(v, str) else v - (v % p["param"])
    return _part_str(v)


def _part_str(v) -> Optional[str]:
    """Canonical string rendering of a partition value — must match how
    Spark renders it into the directory name."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _parse_partition_values(rel: str, spec: list) -> Dict[str, Optional[str]]:
    """Per-file partition values from the hive-style directory names the
    partitioned write produced (``p_x=v``), unescaped, as canonical
    strings (None for the null partition)."""
    from urllib.parse import unquote

    raw: Dict[str, str] = {}
    for comp in rel.split(os.sep):
        if "=" in comp:
            k, _, v = comp.partition("=")
            raw[k] = v
    out: Dict[str, Optional[str]] = {}
    for p in spec:
        v = raw.get(p["name"])
        out[p["name"]] = (
            None
            if v is None or v == "__HIVE_DEFAULT_PARTITION__"
            else unquote(v)
        )
    return out


def _has_delete(snap: dict, delete_id: Optional[str]) -> bool:
    """True when ``snap`` already holds the delete ``delete_id``:
    pending, or materialized by an earlier ``compact()``."""
    return delete_id is not None and (
        delete_id in snap.get("materialized_delete_ids", ())
        or any(
            d.get("delete_id") == delete_id
            for d in snap.get("equality_deletes", ())
        )
    )


def _batch_of(rel: str) -> Optional[str]:
    """batch_id a data file belongs to, from its staging-dir path
    component ``b-<batch_id>-<uuid32>`` (partitioned layouts nest hive
    dirs below it); None for compaction rewrites."""
    for comp in rel.split(os.sep):
        if comp.startswith("b-") and len(comp) > 35:
            return comp[2:-33]
    return None


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _apply_residual(df: DataFrame, residual: list) -> DataFrame:
    """The exact row predicates file pruning leaves to the scan (the
    ``residual`` of ``_scan_predicates``): ``eq`` and ``between``."""
    from pyspark.sql import functions as F

    for kind, args in residual:
        if kind == "eq":
            df = df.where(F.col(args[0]) == F.lit(args[1]))
        else:  # "between"
            df = df.where(F.col(args[0]).between(F.lit(args[1]), F.lit(args[2])))
    return df


def _all_nullable(t):
    """Nullability-normalized copy of a schema-JSON node: parquet reads
    are all-nullable anyway, so nullable flags must neither fail the
    schema-compat check nor leak non-null promises into read schemas."""
    if isinstance(t, dict):
        out = {}
        for k, v in t.items():
            if k in ("nullable", "containsNull", "valueContainsNull"):
                out[k] = True
            else:
                out[k] = _all_nullable(v)
        return out
    if isinstance(t, list):
        return [_all_nullable(x) for x in t]
    return t


def _schema_key(schema_json: dict) -> Set[tuple]:
    return {
        (f["name"], json.dumps(_all_nullable(f["type"]), sort_keys=True))
        for f in schema_json["fields"]
    }


def _schema_from_json(s: str):
    from pyspark.sql.types import StructType

    return StructType.fromJson(_all_nullable(json.loads(s)))


def _prunable(mm, lo, hi) -> bool:
    """True when a file's [min, max] provably misses [lo, hi].  Any
    doubt (no stats, type mismatch with the predicate) keeps the file —
    pruning must only ever drop files that provably cannot match."""
    if not mm or mm[0] is None or mm[1] is None:
        return False
    try:
        return bool(mm[1] < lo or mm[0] > hi)
    except TypeError:
        return False


# manifest-list summaries: cap the per-manifest metadata so the snapshot
# JSON stays O(#manifests) with small constants even on hostile data
_SUMMARY_MAX_PART_VALUES = 32  # distinct partition values recorded
_SUMMARY_MAX_STR = 64  # longest string bound recorded


def _manifest_summary(m: dict) -> dict:
    """Per-manifest summary for the snapshot's manifest list — Iceberg's
    ``manifest_file`` partition summaries + column bounds, the metadata
    that lets scan planning SKIP a whole manifest shard without reading
    it.  Conservative by construction: a column appears only when every
    file in the manifest carries the needed stat/partition value, so a
    summary miss proves no file inside can match; anything else keeps
    the manifest loadable.  ``n`` is the file count (lets planning
    report exact totals without loading skipped shards)."""
    files = m.get("files", [])
    out: dict = {"n": len(files)}
    stats = m.get("file_stats", {})
    if files and all(f in stats for f in files):
        cols = set(stats[files[0]])
        for f in files[1:]:
            cols &= set(stats[f])
        bounds = {}
        for c in sorted(cols):
            try:
                lo = min(stats[f][c][0] for f in files)
                hi = max(stats[f][c][1] for f in files)
            except TypeError:  # mixed types across files — not provable
                continue
            if isinstance(lo, str) and (
                len(lo) > _SUMMARY_MAX_STR or len(hi) > _SUMMARY_MAX_STR
            ):
                continue
            bounds[c] = [lo, hi]
        if bounds:
            out["stats"] = bounds
    parts = m.get("file_partitions", {})
    if files and all(f in parts for f in files):
        names = set(parts[files[0]])
        for f in files[1:]:
            names &= set(parts[f])
        pv = {}
        for name in sorted(names):
            vals = {parts[f][name] for f in files}
            if None in vals or len(vals) > _SUMMARY_MAX_PART_VALUES:
                continue  # unknown value or too wide to be worth listing
            pv[name] = sorted(vals)
        if pv:
            out["parts"] = pv
    return out


def _summary_may_match(s: Optional[dict], want: dict, ranges: list) -> bool:
    """False only when the manifest summary PROVES no file inside can
    satisfy the scan predicates (then the shard is never loaded)."""
    if not s:
        return True  # no summary recorded — must load to know
    bounds = s.get("stats", {})
    for col, lo, hi in ranges:
        if _prunable(bounds.get(col), lo, hi):
            return False
    pv = s.get("parts", {})
    for k, vs in want.items():
        have = pv.get(k)
        if have is not None and not (set(have) & vs):
            return False
    return True


def _scan_predicates(
    spec: list,
    between: Optional[tuple],
    partition_where: Optional[dict],
    eq: Optional[tuple],
) -> tuple:
    """Normalize a read predicate into (want partition-value sets,
    [min,max] ranges per column, residual row predicates) — shared by
    per-file pruning and manifest-summary pruning so the two levels can
    never disagree."""
    residual = []
    ranges = []
    pw = dict(partition_where or {})
    if eq is not None:
        col, value = eq
        for p in spec:
            if p["src"] == col:
                pw[p["name"]] = _transform_value(p, value)
        ranges.append((col, value, value))
        residual.append(("eq", (col, value)))
    want = {
        k: {_part_str(x) for x in v}
        if isinstance(v, (list, tuple, set))
        else {_part_str(v)}
        for k, v in pw.items()
    }
    if between is not None:
        col, lo, hi = between
        ranges.append((col, lo, hi))
        residual.append(("between", (col, lo, hi)))
    return want, ranges, residual


def _prune_file_list(
    files: List[str], stats: dict, parts: dict, want: dict, ranges: list
) -> List[str]:
    """Per-file manifest pruning: drop files whose footer [min,max] or
    recorded partition value provably misses the predicates.  A file
    lacking the needed metadata is kept — pruning only ever drops
    provable non-matches."""
    out = []
    for f in files:
        fs = stats.get(f, {})
        if any(_prunable(fs.get(c), lo, hi) for c, lo, hi in ranges):
            continue
        if want:
            pf = parts.get(f)
            if pf is not None and any(
                k in pf and pf[k] not in vs for k, vs in want.items()
            ):
                continue
        out.append(f)
    return out


def _file_stats(root: str, rel_files: List[str]) -> Dict[str, dict]:
    """Per-file {col: [min, max]} from parquet footer row-group stats —
    metadata only, no data pages read.  Only JSON-safe scalar types are
    recorded (str/int/float/bool); columns without footer stats are
    skipped, which read() treats as un-prunable."""
    import pyarrow.parquet as pq

    out: Dict[str, dict] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(root, rel)).metadata
        cols: Dict[str, list] = {}
        dead: set = set()  # any row group without stats ⇒ column unusable
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if "." in name or name in dead:  # nested / already invalid
                    continue
                st = c.statistics
                mn = mx = None
                if st is not None and st.has_min_max:
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        try:
                            mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                        except UnicodeDecodeError:
                            mn = None
                    if not isinstance(mn, (str, int, float, bool)):
                        mn = None
                    elif isinstance(mn, float) and (mn != mn or mx != mx):
                        mn = None  # NaN stats are meaningless for ranges
                if mn is None:
                    dead.add(name)
                    cols.pop(name, None)
                    continue
                if name in cols:
                    cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
                else:
                    cols[name] = [mn, mx]
        if cols:
            out[rel] = cols
    return out


