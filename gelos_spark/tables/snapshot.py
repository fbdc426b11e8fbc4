"""Snapshot-manifest table layer — the engine's Iceberg-semantics
store (SURVEY.md §7.0, M7).

No Iceberg runtime jar is available offline (verified: none under
$SPARK_HOME/jars or ~/.ivy2), so the engine implements the subset of
Iceberg semantics the north rule actually uses, from scratch:

  - **atomic append**: data files are written to a unique directory,
    then a new JSON manifest (listing ALL live files) is committed by
    an atomic ``os.rename`` of the ``_current`` pointer — readers see
    the old or the new snapshot, never a partial one. This generalizes
    the reference's marker-file commit protocol
    (gelos/embedding_generation.py:58-61,80).
  - **idempotent overwrite-by-partition**: a commit can atomically
    replace all manifest entries carrying a given partition value —
    re-running a stage cannot double-append.
  - **time travel**: every snapshot's manifest is retained;
    ``read(spark, snapshot_id=...)`` reads any historical snapshot.
  - **scan planning from manifest column stats** (Iceberg's
    lower_bounds/upper_bounds): every commit records per-file min/max
    for primitive columns straight from the parquet footers (no data
    read); ``read(where={col: (lo, hi)})`` plans the file list from
    the manifest alone and opens only overlapping files. Pruning is a
    pure optimization — the range is re-applied as a Spark filter, so
    results are byte-identical with or without stats. At 10^12-image
    scale this is THE scan primitive: a cell-range query touches the
    few data files whose Morton range overlaps, not the table.
  - **clustered writes** (Z-order-style layout): ``cluster_by=`` on
    any write range-partitions + sorts rows by the given keys
    (Morton ``cell_id`` makes one int key already interleave
    lon/lat bits), so each data file covers a tight, near-disjoint
    key range and min/max pruning actually bites.
  - **maintenance**: ``compact()`` bin-packs small data files into
    fewer large ones as a normal atomic commit (readers of older
    snapshots unaffected; convergent — already-packed partitions are
    no-ops); ``expire_snapshots(keep_last=N)`` retains the newest N
    of the COMMITTED chain and deletes everything no retained
    snapshot references (including crashed-commit leftovers: orphan
    manifests, data files, stranded pointer tmp files).
  - **incremental consumption**: ``read_delta(from, to)`` returns
    exactly the rows appended between two snapshots from the
    manifests' file-set difference (append-only intervals only —
    rewrites raise). Snapshot ids are NEVER reused, so what a
    previously observed id reads can never change.

Layout under ``root``:
  data/<commit-uuid>/*.parquet      immutable data files
  manifests/<snapshot_id>.json      {"snapshot_id", "parent", "ts",
                                     "files": [{"path", "rows",
                                     "bytes", "partition",
                                     "stats": {col: [min, max]}}]}
  _current                          text file: latest snapshot_id
                                    (committed via atomic rename)

At cluster scale the same protocol works on any store with atomic
rename (HDFS) or conditional put (S3); data-file writes are fully
distributed (df.write.parquet) — only the tiny manifest commit, the
footer-stat harvest and the few-row checkpoint lineage file
(``overwrite_partition_arrow``, one pyarrow write) are driver-side.

Concurrency contract: ONE writer per table at a time (the engine's
actual shape — each pipeline stage owns its table). Readers are
always safe against a concurrent writer (they only follow
``_current``), but two simultaneous commits would last-write-win the
pointer; supporting them needs a compare-and-swap on the current
pointer plus retry-with-rebase, which is exactly the role Iceberg
delegates to its catalog.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: JSON-safe primitive python types a manifest stat may hold.
_STAT_TYPES = (bool, int, float, str)


def _file_column_stats(meta: "pq.FileMetaData") -> dict[str, list]:
    """Per-file [min, max] for every top-level primitive column,
    folded across row groups from the parquet FOOTER only (no data
    pages read — same cost profile as Iceberg's manifest stats).

    Conservative by construction: a column is omitted (→ never pruned
    on) unless EVERY row group has usable min/max of a JSON-safe
    primitive type. Nested paths (``a.list.element``), raw binary,
    and NaN floats are all skipped."""
    if meta.num_row_groups == 0:
        return {}
    stats: dict[str, list] = {}
    for ci in range(meta.num_columns):
        name = meta.row_group(0).column(ci).path_in_schema
        if "." in name:  # nested leaf (array/struct/map) — not prunable
            continue
        mins: list = []
        maxs: list = []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:
            continue
        mn, mx = min(mins), max(maxs)
        if not (isinstance(mn, _STAT_TYPES) and isinstance(mx, _STAT_TYPES)):
            continue  # bytes (true binary) or other non-JSON scalar
        if isinstance(mn, float) and (mn != mn or mx != mx):
            continue  # NaN bounds can't order — skip, stay conservative
        stats[name] = [mn, mx]
    return stats


def _file_entry(path: str, meta: "pq.FileMetaData", partition: str | None) -> dict:
    """Manifest entry of one committed parquet data file."""
    return {
        "path": path,
        "rows": meta.num_rows,
        "bytes": os.path.getsize(path),
        "partition": partition,
        "stats": _file_column_stats(meta),
    }


def _as_range(pred) -> tuple:
    """A predicate is one (lo, hi) pair; None leaves that side open."""
    if not isinstance(pred, tuple) or len(pred) != 2 or any(
        isinstance(v, (tuple, list)) for v in pred
    ):
        raise ValueError(f"where predicate must be one (lo, hi) pair, got {pred!r}")
    return pred


def _range_hits(smin, smax, lo, hi) -> bool:
    try:
        if hi is not None and smin > hi:
            return False
        if lo is not None and smax < lo:
            return False
    except TypeError:
        # predicate/stat type mismatch (e.g. int range on a string
        # column): never prune on a comparison we can't evaluate —
        # read() still filters rows by the caller's predicate
        return True
    return True


def _overlaps(file_entry: dict, where: dict) -> bool:
    """True iff the file MAY contain rows matching every predicate.
    Missing stats for a column ⇒ keep the file."""
    stats = file_entry.get("stats") or {}
    for col, pred in where.items():
        lo, hi = _as_range(pred)
        if col in stats and not _range_hits(*stats[col], lo, hi):
            return False
    return True


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        #: planned-vs-total file counts of the most recent read()
        self.last_scan: dict[str, int] | None = None
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)

    # ------------------------------------------------------- reading

    def current_snapshot_id(self) -> int | None:
        p = os.path.join(self.root, "_current")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def snapshots(self) -> list[int]:
        d = os.path.join(self.root, "manifests")
        return sorted(int(f[:-5]) for f in os.listdir(d) if f.endswith(".json"))

    def manifest(self, snapshot_id: int | None = None) -> dict[str, Any]:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return {"snapshot_id": None, "parent": None, "files": []}
        with open(os.path.join(self.root, "manifests", f"{sid}.json")) as f:
            return json.load(f)

    def files(self, snapshot_id: int | None = None) -> list[dict[str, Any]]:
        return self.manifest(snapshot_id)["files"]

    def plan_files(
        self, where: dict | None = None, snapshot_id: int | None = None
    ) -> list[dict[str, Any]]:
        """Manifest-only scan planning (Iceberg's planFiles): return
        the file entries whose [min, max] stats overlap every
        predicate in ``where`` ({col: (lo, hi)} — None = unbounded on
        that side, equality = (v, v)). Files without stats for a
        column are kept — pruning is never allowed to change results."""
        files = self.files(snapshot_id)
        if not where:
            return files
        return [f for f in files if _overlaps(f, where)]

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        where: dict | None = None,
    ) -> DataFrame:
        """Read a snapshot; with ``where`` ({col: (lo, hi)}), plan the
        file list from manifest stats and open only overlapping files,
        then re-apply the same ranges as a Spark filter (exactness does
        not depend on pruning). ``last_scan`` records planned-vs-total
        file counts for plan audits."""
        all_files = self.files(snapshot_id)
        if not all_files:
            raise ValueError(f"table {self.root} is empty (no committed snapshot)")
        picked = self.plan_files(where, snapshot_id)
        self.last_scan = {"files_total": len(all_files), "files_read": len(picked)}
        if not picked:
            # no file can match: empty frame with the table's schema
            df = spark.read.parquet(all_files[0]["path"]).limit(0)
        else:
            df = spark.read.parquet(*[f["path"] for f in picked])
        for col, pred in (where or {}).items():
            lo, hi = _as_range(pred)
            term = F.lit(True)
            if lo is not None:
                term = term & (F.col(col) >= F.lit(lo))
            if hi is not None:
                term = term & (F.col(col) <= F.lit(hi))
            df = df.filter(term)
        return df

    def is_empty(self) -> bool:
        return not self.files()

    # ------------------------------------------------------- writing

    def _write_data_files(
        self,
        df: DataFrame,
        partition: str | None,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
        keep_empty_if_none: bool = True,
    ) -> list[dict]:
        if cluster_by:
            # Z-order-style layout: range-partition + sort on the
            # cluster keys so each file covers a tight key range and
            # manifest min/max pruning is effective. (Morton cell_id
            # is already a bit-interleaved 2-D key, so one int column
            # gives spatial locality.) repartitionByRange samples to
            # pick bounds — file BOUNDARIES may vary run-to-run, but
            # content and every pruned read stay exact.
            cols = [F.col(c) for c in cluster_by]
            df = (
                df.repartitionByRange(num_files, *cols)
                if num_files
                else df.repartitionByRange(*cols)
            ).sortWithinPartitions(*cols)
        elif num_files:
            df = df.repartition(num_files)
        commit_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(commit_dir)
        out: list[dict] = []
        empties: list[str] = []
        for name in sorted(os.listdir(commit_dir)):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(commit_dir, name)
            meta = pq.ParquetFile(path).metadata
            if meta.num_rows == 0:
                empties.append(path)  # range partitions can be empty
                continue
            out.append(_file_entry(path, meta, partition))
        if not out and empties and keep_empty_if_none:
            # a legitimately EMPTY commit (stage produced 0 rows) must
            # still register one schema-bearing file when the TABLE
            # would otherwise end up file-less, or read() loses the
            # schema and raises. Callers whose commit keeps other
            # files pass keep_empty_if_none=False so repeated empty
            # appends don't accumulate 0-row files.
            keep = empties.pop(0)
            out.append(
                {
                    "path": keep,
                    "rows": 0,
                    "bytes": os.path.getsize(keep),
                    "partition": partition,
                    "stats": {},
                }
            )
        for p in empties:
            os.remove(p)
        return out

    def _point_current(self, sid: int) -> None:
        """The atomic commit point of _commit: write the pointer to a
        tmp file, fsync, then os.rename onto ``_current`` — POSIX
        guarantees readers see either the old or the new pointer,
        never a torn write."""
        tmp = os.path.join(self.root, f"_current.tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(sid))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(self.root, "_current"))

    def _commit(self, files: list[dict]) -> int:
        parent = self.current_snapshot_id()
        # never reuse an on-disk manifest id: after a crashed commit an
        # id above the parent may exist, and silently overwriting it
        # would change what read(snapshot_id=...) returns for an id a
        # reader may have seen. Orphan manifests are left for
        # expire_snapshots.
        sid = max(self.snapshots() + [parent or 0]) + 1
        man = {
            "snapshot_id": sid,
            "parent": parent,
            "ts": time.time(),
            "files": files,
        }
        mpath = os.path.join(self.root, "manifests", f"{sid}.json")
        with open(mpath, "w") as f:
            json.dump(man, f)
        self._point_current(sid)  # atomic commit point
        return sid

    def append(
        self,
        df: DataFrame,
        partition: str | None = None,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Atomic append: new snapshot = old files + newly written files."""
        prior = self.files()
        new_files = self._write_data_files(
            df, partition, cluster_by, num_files, keep_empty_if_none=not prior
        )
        return self._commit(prior + new_files)

    def overwrite_partition(
        self,
        df: DataFrame,
        partition: str,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Idempotent replace of every file tagged with ``partition``
        (the resume path re-runs a stage safely)."""
        kept = [f for f in self.files() if f["partition"] != partition]
        new_files = self._write_data_files(
            df, partition, cluster_by, num_files, keep_empty_if_none=not kept
        )
        return self._commit(kept + new_files)

    def overwrite_partition_arrow(self, table: pa.Table, partition: str) -> int:
        """``overwrite_partition`` for a few driver-side rows: write
        ``table`` as ONE parquet file with pyarrow (no Spark job) and
        commit it with the same unique data dir, footer stats, tag
        replacement and atomic pointer rename. The checkpoint lineage
        commit (plans/checkpoint.py) is the caller."""
        kept = [f for f in self.files() if f["partition"] != partition]
        commit_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
        os.makedirs(commit_dir)
        path = os.path.join(commit_dir, "part-00000.parquet")
        pq.write_table(table, path)
        return self._commit(kept + [_file_entry(path, pq.read_metadata(path), partition)])

    def overwrite(
        self,
        df: DataFrame,
        partition: str | None = None,
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> int:
        """Replace the whole table in one atomic snapshot."""
        return self._commit(self._write_data_files(df, partition, cluster_by, num_files))

    def read_delta(
        self, spark: SparkSession, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Incremental read (Iceberg's incremental scan): the rows
        ADDED between ``from_snapshot`` (exclusive) and
        ``to_snapshot`` (inclusive, default current) — i.e. the data
        files present in ``to`` but not in ``from``. This is how a
        downstream consumer tails an append-only table without
        rescanning it.

        Raises if any ``from`` file is gone from ``to`` (the interval
        contains an overwrite/compaction — "added files" would not
        equal "added rows"); consumers of rewritten tables must
        re-read the snapshot instead."""
        to_snapshot = self.current_snapshot_id() if to_snapshot is None else to_snapshot
        old = {f["path"] for f in self.files(from_snapshot)}
        new_entries = self.files(to_snapshot)
        new = {f["path"] for f in new_entries}
        removed = old - new
        if removed:
            raise ValueError(
                f"read_delta: {len(removed)} file(s) of snapshot "
                f"{from_snapshot} were removed by snapshot {to_snapshot} "
                "(overwrite/compaction in the interval) — the delta is not "
                "append-only; re-read the full snapshot"
            )
        added = [f["path"] for f in new_entries if f["path"] not in old]
        if not added:
            return self.read(spark, to_snapshot).limit(0)
        return spark.read.parquet(*added)

    # -------------------------------------------------- maintenance

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """Bin-pack small data files (< ``target_file_bytes``) into
        fewer large ones, per partition tag, committed as ONE normal
        atomic snapshot — time travel to pre-compaction snapshots
        still reads the original files (expire_snapshots reclaims
        them later). Row content is untouched; only layout changes.
        Returns the new snapshot id, or None if nothing to compact.

        At 10^12-image scale streaming/micro-batch appends accumulate
        small files and manifest entries; compaction bounds both
        (Iceberg's rewrite_data_files). The rewrite itself is a
        distributed read→write; only manifest surgery is driver-side.

        Grouping respects partition tags, so ``overwrite_partition``
        keeps working per tag.
        """
        files = self.files()
        by_part: dict[str | None, list[dict]] = {}
        for f in files:
            if f["bytes"] < target_file_bytes:
                by_part.setdefault(f["partition"], []).append(f)
        rewritten: set[str] = set()
        new_files: list[dict] = []
        for part, fs in by_part.items():
            total = sum(f["bytes"] for f in fs)
            n_out = max(1, -(-total // target_file_bytes))  # ceil
            if len(fs) <= n_out:
                # already as packed as the target allows — rewriting
                # would emit the same number of sub-target files
                # forever (convergence: compact() after compact() is a
                # no-op)
                continue
            src = spark.read.parquet(*[f["path"] for f in fs])
            new_files.extend(
                self._write_data_files(src, part, cluster_by, num_files=int(n_out))
            )
            rewritten.update(f["path"] for f in fs)
        if not rewritten:
            return None
        kept = [f for f in files if f["path"] not in rewritten]
        return self._commit(kept + new_files)

    def _committed_chain(self) -> list[int]:
        """Snapshot ids actually reachable from ``_current`` via
        parent links, oldest first. A manifest on disk that is NOT on
        this chain is an orphan from a crashed commit (written before
        the ``_current`` rename died) — it was never the table state
        and must not anchor retention."""
        chain: list[int] = []
        sid = self.current_snapshot_id()
        while sid is not None:
            chain.append(sid)
            try:
                sid = self.manifest(sid).get("parent")
            except FileNotFoundError:
                break  # parent already expired earlier
        return chain[::-1]

    def expire_snapshots(self, keep_last: int = 1) -> dict[str, int]:
        """Retain the newest ``keep_last`` snapshots OF THE COMMITTED
        CHAIN (walked from ``_current`` — an on-disk manifest a
        crashed commit left behind is an orphan, not a snapshot, and
        is itself expired); delete older manifests and every data file
        under ``root`` no retained manifest references. Mirrors
        Iceberg's expire_snapshots + remove_orphan_files. Caveat (same
        as Iceberg's): don't run concurrently with an in-flight write,
        whose not-yet-committed files look like orphans."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        sids = self.snapshots()
        retained = self._committed_chain()[-keep_last:]
        referenced = {
            f["path"] for sid in retained for f in self.files(sid)
        }
        dropped_manifests = 0
        for sid in sids:
            if sid not in retained:
                os.remove(os.path.join(self.root, "manifests", f"{sid}.json"))
                dropped_manifests += 1
        # crashed commits can also strand _current.tmp.* pointer files
        # in the table root — same leftover class as orphan manifests
        for name in list(os.listdir(self.root)):
            if name.startswith("_current.tmp."):
                os.remove(os.path.join(self.root, name))
        deleted_files = 0
        data_root = os.path.join(self.root, "data")
        for commit_dir in list(os.listdir(data_root)):
            cdir = os.path.join(data_root, commit_dir)
            for name in list(os.listdir(cdir)):
                p = os.path.join(cdir, name)
                if p not in referenced:
                    os.remove(p)
                    deleted_files += name.endswith(".parquet")
            if not os.listdir(cdir):
                os.rmdir(cdir)
        return {
            "retained_snapshots": len(retained),
            "expired_manifests": dropped_manifests,
            "deleted_data_files": deleted_files,
        }

    # ------------------------------------------------------- stats

    def total_rows(self, snapshot_id: int | None = None) -> int:
        return sum(f["rows"] for f in self.files(snapshot_id))

    def partitions(self) -> set[str | None]:
        return {f["partition"] for f in self.files()}
