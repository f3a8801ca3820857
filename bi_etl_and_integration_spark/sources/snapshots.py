"""Snapshot table: a minimal transactional table format on plain
parquet, built because no Delta/Iceberg package exists in this
environment (ROADMAP round-2 re-check) and the pattern itself is public
(Delta's _delta_log / Iceberg's metadata tree reduced to essentials).

Every table the engine writes and later reads back commits here: CDC
targets, the foreachBatch upsert sink, ``IncrementalAggMV``'s deltas,
the ``dedup_stream`` minhash index (``buckets`` and ``shingles``, one
epoch-stamped version per micro-batch) and the IVF index (vectors
Hive-partitioned by ``centroid_id``, centroids and PQ books as
sidecars).  ``pipeline.checkpointed_write`` is export-only: files read
outside it.

Layout::

    table/
      data/<commit-uuid>/part-*.parquet    immutable, write-once
      data/__commit=<commit-uuid>/<col>=<v>/...  ``partition_by`` set
      _manifests/v0000000001.json          the commit log

A *manifest* lists the exact data files of one table version plus the
schema DDL, and optionally: the ``partition_by`` column; ``sidecars``,
named file lists committed with the data and visible only together
with it (an index's centroids); and the ``epoch`` of the newest
idempotent-writer commit (Delta's ``txn`` action), which every later
version carries forward.  Every commit (``write``, ``rollback``,
``compact``) goes through one routine: the full manifest is written
under a temp name in ``_manifests/``, then hard-linked to the next
``v{N}.json``.  The link is an atomic create-if-absent, so exactly one
writer can claim a given version and concurrent writers serialize by
retrying against the new latest — optimistic concurrency, no lock
server — and a manifest is complete the moment it is visible.  Readers
list the manifest dir, pick the highest version, and read exactly the
files it names — they never see a half-written commit because data
files are written BEFORE the manifest that references them and neither
is modified after.

Guarantees and their boundaries (stated, not implied):
  - Atomic visibility + snapshot isolation: yes, on any filesystem
    where ``link(2)`` is an atomic create-if-absent (POSIX local, NFS —
    the classic NFS lock-file idiom).  S3 (and HDFS, which has no hard
    links) offer no such primitive through ``os`` — same boundary Delta
    has without a coordinating LogStore; front it with one writer or a
    lock there.
  - Appends from concurrent writers: both survive (retry re-reads the
    latest parent).  Concurrent overwrite+append: last committed wins
    deterministically by version order — the append retries onto the
    overwrite's files.
  - Time travel: any retained version is readable; ``rollback`` is a
    NEW commit pointing at the old file list (history is never
    rewritten).  ``vacuum`` deletes data unreferenced by the retained
    tail, after which older versions are gone.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifests"
_PAD = 10


class CommitConflict(RuntimeError):
    """Another writer committed the version we raced for (surfaced only
    after ``max_retries`` exhausted)."""


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFEST_DIR,
                        f"v{version:0{_PAD}d}.json")


def _list_versions(table: str) -> list[int]:
    d = os.path.join(table, _MANIFEST_DIR)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(table: str, version: int) -> dict:
    with open(_manifest_path(table, version)) as fh:
        return json.load(fh)


def _entry_path(entry) -> str:
    """Manifest file entry -> relative path (v1 manifests stored bare
    strings; v2 stores {path, rows, stats})."""
    return entry if isinstance(entry, str) else entry["path"]


def _all_entries(m: dict) -> list:
    """Every file a manifest references: data files and sidecars."""
    return m["files"] + [e for es in m.get("sidecars", {}).values()
                         for e in es]


def _sidecar(path: str, version: int, name: str, decode):
    """``decode(pyarrow.Table)`` of the sidecar ``name`` committed in
    ``version`` of the table at ``path``; None when that version has
    none.  Decoded once per file list (see :func:`_decoded`)."""
    entries = _read_manifest(path, version).get("sidecars", {}).get(name)
    if entries is None:
        return None
    return _decoded(tuple(os.path.join(path, _entry_path(e))
                          for e in entries), decode)


@functools.lru_cache(maxsize=16)
def _decoded(files: tuple, decode):
    """``decode`` of committed files read as one pyarrow Table.  Their
    names carry the commit's uuid and committed files never change, so
    the file list is an exact key: a search session that probes one
    index version many times decodes it once, while a rebuild — or a
    table deleted and recreated at the same path, which reuses version
    numbers — names new files.  ``maxsize`` bounds what a session that
    keeps rebuilding tables holds."""
    import pyarrow.parquet as pq
    return decode(pq.read_table(list(files)))


def _stat_value(v):
    """Normalize a parquet footer min/max to a JSON-stable, ordered
    value.  Dates/timestamps become ISO strings — lexicographic order
    == chronological order for ISO-8601, so pruning stays correct."""
    import datetime
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def _file_stats(full_path: str) -> tuple[int, dict]:
    """(row_count, {col: [min, max]}) from the parquet footer — only
    top-level columns whose every row group carries min/max stats.
    Cost: one footer read per NEW file of this commit (bounded by one
    write's output, never the whole table)."""
    import pyarrow.parquet as pq
    md = pq.ParquetFile(full_path).metadata
    mins: dict = {}
    maxs: dict = {}
    dead: set = set()
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        for ci in range(rgm.num_columns):
            col = rgm.column(ci)
            name = col.path_in_schema
            if "." in name or name in dead:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                dead.add(name)
                continue
            lo, hi = _stat_value(st.min), _stat_value(st.max)
            if lo is None or hi is None:
                dead.add(name)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    stats = {c: [mins[c], maxs[c]] for c in mins if c not in dead}
    return md.num_rows, stats


_PRUNE_OPS = ("=", "<", "<=", ">", ">=")


def _may_match(entry, predicates) -> bool:
    """False only when the file's stats PROVE no row satisfies every
    predicate — missing stats always read (pruning is an optimization,
    never a correctness gate)."""
    if not predicates or isinstance(entry, str):
        return True
    stats = entry.get("stats") or {}
    for col, op, val in predicates:
        if col not in stats:
            continue
        lo, hi = stats[col]
        # only same-kind comparisons are meaningful; mixed types read
        num = isinstance(val, (int, float)) and not isinstance(val, bool)
        if num != isinstance(lo, (int, float)):
            continue
        if op == "=" and not (lo <= val <= hi):
            return False
        if op == ">" and not hi > val:
            return False
        if op == ">=" and not hi >= val:
            return False
        if op == "<" and not lo < val:
            return False
        if op == "<=" and not lo <= val:
            return False
    return True


def _evolve_ddl(table_ddl: str, append_ddl: str) -> str:
    """Union-extend a manifest schema with an appended frame's schema:
    table column order is preserved, brand-new columns append at the
    end; a same-name column with a different type raises."""
    table = T.StructType.fromDDL(table_ddl)
    existing = {f.name: f.dataType.simpleString() for f in table.fields}
    out = [f"{f.name} {existing[f.name]}" for f in table.fields]
    for f in T.StructType.fromDDL(append_ddl).fields:
        new_t = f.dataType.simpleString()
        if f.name in existing:
            if existing[f.name] != new_t:
                raise ValueError(
                    f"evolve_schema: column {f.name!r} is "
                    f"{existing[f.name]} in the table but {new_t} in "
                    "the append — explicit cast or overwrite required")
        else:
            out.append(f"{f.name} {new_t}")
    return ",".join(out)


class SnapshotTable:
    """Handle on one snapshot table directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ------------------------------------------------------------ read

    def versions(self) -> list[int]:
        return _list_versions(self.path)

    def latest_version(self) -> int | None:
        v = _list_versions(self.path)
        return v[-1] if v else None

    def _version_before(self, epoch: int) -> int | None:
        """Newest version whose recorded ``epoch`` (see :meth:`_commit`)
        is below ``epoch``: the state batch ``epoch`` of an idempotent
        writer read on its first attempt, so a replay reads it too.
        None when there is no such version."""
        for v in reversed(self.versions()):
            if _read_manifest(self.path, v).get("epoch", -1) < epoch:
                return v
        return None

    def history(self) -> list[dict]:
        """Commit log, oldest first: version/operation/ts/n_files."""
        out = []
        for v in _list_versions(self.path):
            m = _read_manifest(self.path, v)
            out.append({"version": v, "operation": m["operation"],
                        "ts": m["ts"], "n_files": len(m["files"])})
        return out

    def read(self, version: int | None = None, *,
             prune: list[tuple] | None = None) -> DataFrame:
        """Snapshot read.  ``version=None`` → latest.  The file list is
        pinned at manifest-read time: a commit that lands after this
        call does not change what this DataFrame scans (snapshot
        isolation) — except that ``vacuum`` may delete files of
        versions older than its retention tail.

        ``prune``: manifest-level data skipping — ``[(col, op, value)]``
        with op ∈ =,<,<=,>,>= drops every file whose footer min/max
        PROVES no row matches (on a partitioned table: every commit
        dir none of whose files may match), before Spark lists a single
        file.  This
        is an optimization contract, not a filter: the caller still
        applies the real ``where()`` (files lacking stats are always
        read).  At 100 TB this removes the per-file footer round trip
        row-group pruning would otherwise pay."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(
                    f"{self.path} has no committed version")
        if prune:
            for col, op, _ in prune:
                if op not in _PRUNE_OPS:
                    raise ValueError(f"prune op {op!r} not in "
                                     f"{_PRUNE_OPS}")
        m = _read_manifest(self.path, version)
        schema = T.StructType.fromDDL(m["schema"])
        files = [os.path.join(self.path, _entry_path(e))
                 for e in m["files"] if _may_match(e, prune)]
        if not files:
            return self.spark.createDataFrame([], schema)
        # explicit schema: the manifest is the source of truth, not
        # whichever file's footer gets sampled first
        if not m.get("partition_by"):
            return self.spark.read.schema(schema).parquet(*files)
        # a partitioned commit dir is itself a `__commit=<id>` level, so
        # one scan with basePath data/ parses both levels from the
        # paths and a filter on the column stays a static partition
        # filter, however many commits the version spans.  The scan
        # gets commit dirs, not files: a commit dir holds exactly the
        # files its commit named, and Spark lists more than 32 paths
        # (parallelPartitionDiscovery.threshold) in a job with one
        # task per path
        dirs = sorted({os.path.join(self.path, *os.path.relpath(
            f, self.path).split(os.sep)[:2]) for f in files})
        return (self.spark.read.schema(schema.add("__commit", "string"))
                .option("basePath", os.path.join(self.path, "data"))
                .parquet(*dirs).drop("__commit"))

    def row_count(self, version: int | None = None) -> int | None:
        """Exact row count from manifest metadata — no scan.  None if
        any entry predates stats capture (v1 manifests)."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(
                    f"{self.path} has no committed version")
        total = 0
        for e in _read_manifest(self.path, version)["files"]:
            if isinstance(e, str) or "rows" not in e:
                return None
            total += e["rows"]
        return total

    # ----------------------------------------------------------- write

    def write(self, df: DataFrame, mode: str = "overwrite", *,
              evolve_schema: bool = False,
              max_retries: int = 20) -> int:
        """Commit ``df`` as the next version.  ``mode``: ``overwrite``
        replaces the file list, ``append`` extends the parent's.
        Returns the committed version number.  An append keeps the
        table's partitioning (see :meth:`_stage`).

        ``evolve_schema`` (append only): columns new to the table are
        ADDED to the manifest schema (at the end, Delta
        mergeSchema-style) instead of erroring; columns the append
        lacks stay, NULL-filled for the new rows.  No data file is
        rewritten — parquet column resolution is by NAME, so old files
        simply lack the new column and read as NULL under the
        manifest's (authoritative) union schema.  A column present on
        both sides with a DIFFERENT type still errors: silent type
        widening is how tables rot."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite/append, got {mode!r}")
        part = self._partition_by() if mode == "append" else None
        return self._commit(mode, *self._stage(df, part),
                            evolve_schema=evolve_schema,
                            max_retries=max_retries)

    def rollback(self, to_version: int) -> int:
        """Restore an old version's file list as a NEW commit (history
        stays append-only, like Delta RESTORE)."""
        m = _read_manifest(self.path, to_version)
        return self._commit(f"rollback({to_version})", m["files"],
                            m["schema"], m.get("commit_id"),
                            m.get("partition_by"),
                            sidecars=m.get("sidecars"))

    def compact(self, *, target_files: int | None = None) -> int:
        """OPTIMIZE: rewrite the current version's data and commit the
        result — small-file compaction after many streaming/CDC appends
        (each append is ≥1 file; a thousand micro-batches = a thousand
        tiny scans).  ``target_files=None`` writes one file per read
        split: Spark packs small files into splits of up to
        ``spark.sql.files.maxPartitionBytes``, so the rewrite runs in
        parallel and the file count follows the data size; an integer
        coalesces to that many files (one task each).  Old versions
        still read the old files until ``vacuum``.  Partitioning and
        sidecars carry over; the epoch too, as on every commit."""
        df = self.read()
        if target_files is not None:
            df = df.coalesce(max(1, target_files))
        return self._commit("compact", *self._stage(df,
                                                    self._partition_by()))

    def _partition_by(self) -> str | None:
        """The latest version's partition column (None: unpartitioned
        or no version yet)."""
        v = self.latest_version()
        return None if v is None else _read_manifest(
            self.path, v).get("partition_by")

    def _stage(self, df: DataFrame, partition_by: str | None = None,
               ) -> tuple[list[dict], str, str, str | None]:
        """Write ``df``'s data files under an unborn commit-uuid dir;
        return (file entries with footer stats, schema DDL, commit id,
        ``partition_by``).  Until :meth:`_commit` names them they are
        invisible garbage (reclaimed by ``vacuum``), never a torn
        table.  ``partition_by``: the files are Hive-partitioned by
        that column under a ``__commit=<id>`` dir (see :meth:`read`),
        so a filter on it prunes whole directories at read time."""
        commit_id = uuid.uuid4().hex[:12]
        data_dir = os.path.join(self.path, "data", f"__commit={commit_id}"
                                if partition_by else commit_id)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(data_dir)
        files = []
        # walk the tree: a partitioned write nests files in col=v dirs
        for root, _, names in sorted(os.walk(data_dir)):
            for f in sorted(names):
                if f.endswith(".parquet"):
                    full = os.path.join(root, f)
                    rows, stats = _file_stats(full)
                    files.append({"path": os.path.relpath(full, self.path),
                                  "rows": rows, "stats": stats})
        # a partitioned read puts the partition column last
        fields = sorted(df.schema.fields,
                        key=lambda f: f.name == partition_by)
        ddl = ",".join(f.name + " " + f.dataType.simpleString()
                       for f in fields)
        return files, ddl, commit_id, partition_by

    def _commit(self, operation: str, files: list, ddl: str,
                commit_id: str | None, partition_by: str | None = None,
                *, sidecars: dict | None = None, epoch: int | None = None,
                evolve_schema: bool = False, max_retries: int = 20,
                ) -> int:
        """The one commit routine: publish the next version listing
        ``files`` (an ``append`` extends the parent's list, re-read on
        every retry).  The full manifest is hard-linked from a temp name
        to ``v{N}.json`` (see the module docstring); a lost race
        (``FileExistsError``) re-parents onto the new latest.

        ``sidecars``: ``{name: file entries}`` committed with the data;
        None keeps the parent's on ``append``/``compact`` and means none
        otherwise.  ``epoch``: the idempotent writer's batch id — when
        the parent already records an epoch >= it, this commit already
        landed in an earlier attempt, so it is skipped and the parent
        version returned."""
        mdir = os.path.join(self.path, _MANIFEST_DIR)
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f"_{uuid.uuid4().hex}.tmp")
        try:
            for _ in range(max_retries):
                parent = self.latest_version()
                pm = ({} if parent is None
                      else _read_manifest(self.path, parent))
                if epoch is not None and pm.get("epoch", -1) >= epoch:
                    return parent
                entries, schema = files, ddl
                if operation == "append" and pm:
                    if pm.get("partition_by") != partition_by:
                        # only an overwrite with another partitioning
                        # landing after this append's _stage gets here:
                        # the two layouts cannot share one scan
                        raise ValueError(
                            "append partitioning mismatch: table has "
                            f"{pm.get('partition_by')!r}, staged "
                            f"{partition_by!r}")
                    if pm["schema"] != ddl:
                        if not evolve_schema:
                            raise ValueError(
                                "append schema mismatch: table has "
                                f"[{pm['schema']}], appending [{ddl}] — "
                                "overwrite to change schema, or pass "
                                "evolve_schema=True to union-extend it")
                        schema = _evolve_ddl(pm["schema"], ddl)
                    entries = pm["files"] + entries
                version = (parent or 0) + 1
                manifest = {"version": version, "parent": parent,
                            "operation": operation, "files": entries,
                            "schema": schema, "ts": time.time(),
                            "commit_id": commit_id}
                side = sidecars
                if side is None and operation in ("append", "compact"):
                    side = pm.get("sidecars")
                for key, value in (("partition_by", partition_by),
                                   ("sidecars", side),
                                   ("epoch", epoch if epoch is not None
                                    else pm.get("epoch"))):
                    if value is not None:
                        manifest[key] = value
                with open(tmp, "w") as fh:
                    json.dump(manifest, fh)
                try:
                    os.link(tmp, _manifest_path(self.path, version))
                except FileExistsError:
                    continue                 # lost the race: re-parent
                return version
            raise CommitConflict(
                f"{self.path}: lost the commit race {max_retries} times")
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # --------------------------------------------------------- vacuum

    def vacuum(self, *, keep_last: int = 2) -> list[str]:
        """Delete data files referenced ONLY by versions older than the
        ``keep_last`` newest (plus orphans from crashed writes).
        Returns deleted paths.  After vacuum, ``read(version=old)``
        fails for pruned versions — retention is the time-travel
        horizon, exactly the Delta VACUUM contract.  ``keep_last`` < 1
        raises: no retention tail would keep even the latest version.
        An orphan is any data dir no retained manifest names, which
        includes a concurrent writer's staged but not yet committed
        one: run vacuum while no writer of the table is in flight."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        versions = _list_versions(self.path)
        if not versions:
            return []
        keep = set()
        for v in versions[-keep_last:]:
            keep.update(_entry_path(e) for e in
                        _all_entries(_read_manifest(self.path, v)))
        keep_dirs = {p.split(os.sep)[1] for p in keep}
        data_root = os.path.join(self.path, "data")
        deleted = []
        import shutil
        if os.path.isdir(data_root):
            for d in sorted(os.listdir(data_root)):
                if d not in keep_dirs:
                    full = os.path.join(data_root, d)
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(full)
        for v in versions[:-keep_last]:
            m = _read_manifest(self.path, v)
            if any(_entry_path(e).split(os.sep)[1] not in keep_dirs
                   for e in _all_entries(m)):
                os.remove(_manifest_path(self.path, v))
        return deleted


def snapshot_write(spark: SparkSession, df: DataFrame, path: str, *,
                   mode: str = "overwrite") -> int:
    """One-shot convenience over :class:`SnapshotTable`."""
    return SnapshotTable(spark, path).write(df, mode)


def snapshot_read(spark: SparkSession, path: str,
                  version: int | None = None) -> DataFrame:
    return SnapshotTable(spark, path).read(version)
