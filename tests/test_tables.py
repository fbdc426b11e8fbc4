"""Snapshot table layer + checkpoint/resume tests (SURVEY.md §5 item 5).

Reference contract being generalized: the marker-file commit protocol
of gelos/embedding_generation.py:58-61,80 (skip if marker exists,
touch on success) and the CSV memo read-back of
gelos/embedding_transformation.py:85-94.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gelos_spark.plans.checkpoint import CHECKPOINT_SCHEMA, Pipeline
from gelos_spark.tables.snapshot import SnapshotTable


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 10).withColumn("v", F.col("id") * 2))
    s1 = t.current_snapshot_id()
    t.append(spark.range(10, 15).withColumn("v", F.col("id") * 2))
    s2 = t.current_snapshot_id()
    assert s2 == s1 + 1
    assert t.read(spark).count() == 15
    assert t.read(spark, snapshot_id=s1).count() == 10  # time travel
    assert t.total_rows() == 15


def test_overwrite_partition_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite_partition(spark.range(0, 5), partition="stage_a")
    t.overwrite_partition(spark.range(100, 110), partition="stage_b")
    assert t.total_rows() == 15
    # re-running stage_a replaces, never duplicates
    t.overwrite_partition(spark.range(0, 7), partition="stage_a")
    assert t.total_rows() == 17
    vals = sorted(r.id for r in t.read(spark).collect())
    assert vals == list(range(0, 7)) + list(range(100, 110))


def test_mid_commit_crash_reader_sees_previous_snapshot(spark, tmp_path, monkeypatch):
    """Chaos: die BETWEEN writing the parquet data files (and even the
    new manifest JSON) and the atomic ``_current`` rename — the exact
    torn-commit window the snapshot protocol exists for (engine analog
    of the reference's marker-file commit,
    gelos/embedding_generation.py:58-61,80). A concurrent reader must
    still see the previous snapshot, and a re-run must commit cleanly
    with no double-count from the crashed attempt's orphaned files."""
    from gelos_spark.tables import snapshot as snap_mod

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 10).coalesce(1), partition="p0")
    s1 = t.current_snapshot_id()
    rows1 = sorted(r.id for r in t.read(spark).collect())

    real_rename = snap_mod.os.rename

    def dying_rename(src, dst, *a, **k):
        if str(dst).endswith("_current"):
            raise RuntimeError("killed at the commit point")
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(snap_mod.os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="commit point"):
        t.append(spark.range(10, 20).coalesce(1), partition="p1")
    monkeypatch.setattr(snap_mod.os, "rename", real_rename)

    # a concurrent reader (fresh handle on the same root) still sees
    # the OLD snapshot — never a torn one — even though the crashed
    # attempt left data files and an uncommitted manifest on disk
    reader = SnapshotTable(str(tmp_path / "t"))
    assert reader.current_snapshot_id() == s1
    assert sorted(r.id for r in reader.read(spark).collect()) == rows1
    assert reader.total_rows() == 10
    orphan_manifest = os.path.join(str(tmp_path / "t"), "manifests", f"{s1 + 1}.json")
    assert os.path.exists(orphan_manifest)  # written, but never pointed at

    # re-run commits cleanly: exactly the union, the orphaned attempt's
    # manifest id is SKIPPED (ids are never reused — overwriting an
    # observable id would change time travel) and left for
    # expire_snapshots, nothing double-counted
    t2 = SnapshotTable(str(tmp_path / "t"))
    sid = t2.append(spark.range(10, 20).coalesce(1), partition="p1")
    assert sid == s1 + 2  # s1+1 is the crashed attempt's orphan
    assert t2.current_snapshot_id() == sid
    assert t2.total_rows() == 20
    assert sorted(r.id for r in t2.read(spark).collect()) == list(range(20))
    assert all(os.path.exists(f["path"]) for f in t2.files())


def test_mid_commit_crash_overwrite_partition_stays_idempotent(
    spark, tmp_path, monkeypatch
):
    """Same torn-commit window, but for ``overwrite_partition`` (the
    resume path's idempotent stage re-write): a crash mid-overwrite
    must leave the partition's OLD files visible, and the retried
    overwrite must replace them exactly once."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite_partition(spark.range(0, 5).coalesce(1), partition="stage_a")
    t.overwrite_partition(spark.range(100, 110).coalesce(1), partition="stage_b")

    def boom(self, files):
        raise RuntimeError("killed before commit")

    monkeypatch.setattr(SnapshotTable, "_commit", boom)
    with pytest.raises(RuntimeError, match="before commit"):
        t.overwrite_partition(spark.range(0, 7).coalesce(1), partition="stage_a")
    monkeypatch.undo()

    reader = SnapshotTable(str(tmp_path / "t"))
    assert reader.total_rows() == 15  # old stage_a (5 rows) still live
    # retry: stage_a replaced exactly (7 rows), stage_b untouched
    reader.overwrite_partition(spark.range(0, 7).coalesce(1), partition="stage_a")
    assert reader.total_rows() == 17
    vals = sorted(r.id for r in reader.read(spark).collect())
    assert vals == list(range(0, 7)) + list(range(100, 110))


def test_empty_table_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.is_empty()
    with pytest.raises(ValueError):
        t.read(spark)


# ---------------- manifest stats / pruned scan / maintenance (r6) ----


def _cells_df(spark, n=20000):
    return (
        spark.range(0, n)
        .withColumn("cell", (F.col("id") * F.lit(2654435761)) % F.lit(1_000_000))
        .withColumn("name", F.concat(F.lit("img_"), F.col("id").cast("string")))
        .withColumn("blob", F.col("id").cast("string").cast("binary"))
    )


def _xor(df, *cols):
    return df.agg(F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]["h"]


def test_manifest_records_primitive_column_stats(spark, tmp_path):
    """Every commit harvests per-file [min, max] for primitive columns
    from the parquet footers (Iceberg's lower/upper_bounds); binary
    columns are skipped (not prunable, not JSON-safe)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_cells_df(spark, 1000).coalesce(1))
    (entry,) = t.files()
    stats = entry["stats"]
    assert stats["id"] == [0, 999]
    assert stats["cell"][0] >= 0 and stats["cell"][1] < 1_000_000
    assert stats["name"][0].startswith("img_")
    assert "blob" not in stats


def test_pruned_read_is_exact_and_skips_files(spark, tmp_path):
    """cluster_by gives each data file a tight cell range, so a
    manifest-planned range scan opens a strict subset of files and
    still returns exactly the rows a full-scan filter returns."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_cells_df(spark), cluster_by=["cell"], num_files=8)
    lo, hi = 100_000, 220_000
    pruned = t.read(spark, where={"cell": (lo, hi)})
    h_pruned, n_pruned = _xor(pruned, "id", "cell", "name"), pruned.count()
    assert t.last_scan["files_total"] == 8
    assert 0 < t.last_scan["files_read"] < 8
    full = t.read(spark).filter((F.col("cell") >= lo) & (F.col("cell") <= hi))
    assert n_pruned == full.count() > 0
    assert h_pruned == _xor(full, "id", "cell", "name")


def test_pruned_read_empty_range_keeps_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_cells_df(spark, 500), cluster_by=["cell"], num_files=4)
    out = t.read(spark, where={"cell": (-100, -1)})
    assert t.last_scan["files_read"] == 0
    assert out.count() == 0
    assert set(out.columns) == {"id", "cell", "name", "blob"}


def test_pruning_conservative_without_stats(spark, tmp_path):
    """Pre-stats manifests (or columns with no usable bounds) must
    never be pruned on — strip the stats key to simulate an old
    manifest and assert the scan degrades to read-everything while
    staying exact."""
    import json as _json
    import os as _os

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_cells_df(spark, 2000), cluster_by=["cell"], num_files=4)
    sid = t.current_snapshot_id()
    mpath = _os.path.join(t.root, "manifests", f"{sid}.json")
    man = _json.load(open(mpath))
    for f in man["files"]:
        f.pop("stats", None)
    _json.dump(man, open(mpath, "w"))
    out = t.read(spark, where={"cell": (0, 50_000)})
    assert t.last_scan["files_read"] == t.last_scan["files_total"] == 4
    full = t.read(spark).filter(F.col("cell").between(0, 50_000))
    assert out.count() == full.count()


def test_compact_preserves_content_and_history(spark, tmp_path):
    """Bin-packing small files is a normal atomic commit: same rows,
    same content hash, fewer files; the pre-compaction snapshot still
    reads the original layout (until expired)."""
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(6):
        t.append(spark.range(i * 100, (i + 1) * 100).coalesce(1))
    pre_sid, pre_files = t.current_snapshot_id(), len(t.files())
    pre_hash = _xor(t.read(spark), "id")
    sid = t.compact(spark, target_file_bytes=1 << 20)
    assert sid == pre_sid + 1 and t.manifest()["parent"] == pre_sid
    assert len(t.files()) < pre_files
    assert t.total_rows() == 600
    assert _xor(t.read(spark), "id") == pre_hash
    assert t.read(spark, snapshot_id=pre_sid).count() == 600  # time travel


def test_compact_noop_when_nothing_small(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 100).coalesce(1))
    sid = t.current_snapshot_id()
    assert t.compact(spark, target_file_bytes=1) is None
    assert t.current_snapshot_id() == sid


def test_expire_snapshots_reclaims_unreferenced_and_orphans(spark, tmp_path):
    """Expiry drops old manifests and deletes data files no retained
    snapshot references — including orphans from a crashed commit
    (files written, _current never renamed)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(0, 50).coalesce(1))
    t.overwrite(spark.range(50, 120).coalesce(1))  # first files now dead
    t._write_data_files(spark.range(0, 9).coalesce(1), None)  # crashed commit
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_manifests"] == 1
    assert res["deleted_data_files"] >= 2  # dead snapshot-1 file + orphan
    assert t.snapshots() == [t.current_snapshot_id()]
    assert t.read(spark).count() == 70  # current snapshot intact
    live = {f["path"] for f in t.files()}
    import os as _os

    on_disk = {
        _os.path.join(d, n)
        for d, _, names in _os.walk(_os.path.join(t.root, "data"))
        for n in names
        if n.endswith(".parquet")
    }
    assert on_disk == live
    with pytest.raises(ValueError):
        t.expire_snapshots(keep_last=0)


def test_pipeline_resume_skips_and_is_identical(spark, tmp_path):
    root = str(tmp_path / "run")

    def stage1(sp):
        return sp.range(0, 100).withColumn("v", F.col("id") % 7)

    def stage2_from(pipe):
        return lambda sp: pipe.output("s1").groupBy("v").count()

    p1 = Pipeline(spark, root, "r1")
    p1.stage("s1", stage1)
    p1.stage("s2", stage2_from(p1))
    out1 = p1.output("s2").orderBy("v").collect()
    assert p1.executed == ["s1", "s2"] and p1.skipped == []

    # second run with the same run_id: everything skips, same rows
    p2 = Pipeline(spark, root, "r1")
    p2.stage("s1", stage1)
    p2.stage("s2", stage2_from(p2))
    out2 = p2.output("s2").orderBy("v").collect()
    assert p2.skipped == ["s1", "s2"] and p2.executed == []
    assert out1 == out2

    # a new run_id recomputes (stage tables are overwritten idempotently)
    p3 = Pipeline(spark, root, "r2")
    p3.stage("s1", stage1)
    assert p3.executed == ["s1"]


def test_pipeline_partial_resume(spark, tmp_path):
    """Crash after stage 1 -> rerun executes only stage 2."""
    root = str(tmp_path / "run")
    p1 = Pipeline(spark, root, "r1")
    p1.stage("s1", lambda sp: sp.range(0, 50))
    # "crash" here: s2 never ran
    p2 = Pipeline(spark, root, "r1")
    p2.stage("s1", lambda sp: sp.range(0, 50))
    p2.stage("s2", lambda sp: p2.output("s1").withColumn("y", F.col("id") + 1))
    assert p2.skipped == ["s1"] and p2.executed == ["s2"]
    assert p2.output("s2").count() == 50


def test_lineage_rows(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "run"), "r1")
    p.stage("s1", lambda sp: sp.range(0, 64).repartition(4))
    lin = p.log.lineage("r1").collect()
    files = [r for r in lin if r.status == "file"]
    done = [r for r in lin if r.status == "done"]
    assert len(done) == 1
    assert sum(r.rows_out for r in files) == 64 == done[0].rows_out
    assert all(r.bytes > 0 for r in files)
    assert len(files) >= 1  # one lineage row per written partition file


def test_pruned_read_or_of_ranges(spark, tmp_path):
    """A predicate is one (lo, hi) pair: an OR-of-ranges list, an empty
    list or a pair of pairs is rejected before any file is planned, not
    read as some other range."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_cells_df(spark, 200), cluster_by=["cell"], num_files=2)
    for pred in ([(0, 60_000), (500_000, 560_000)], [], ((0, 1), (2, 3)), (0, 1, 2)):
        with pytest.raises(ValueError, match="one \\(lo, hi\\) pair"):
            t.read(spark, where={"cell": pred})
        with pytest.raises(ValueError, match="one \\(lo, hi\\) pair"):
            t.plan_files({"cell": pred})


def test_prune_type_mismatch_is_conservative(spark, tmp_path):
    """An int range against a string column's stats can't be compared
    — the planner must keep every file (never prune on a comparison it
    can't evaluate); the residual filter still applies."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_cells_df(spark, 300), cluster_by=["cell"], num_files=3)
    # name is a string column: the int range can't be compared to its
    # stats, so planning keeps all files (the residual filter — whose
    # typing is the caller's contract — would still apply on read)
    assert len(t.plan_files({"name": (0, 10)})) == 3
    # sane predicates on the same column DO prune after clustering
    t2 = SnapshotTable(str(tmp_path / "t2"))
    t2.append(_cells_df(spark, 3000), cluster_by=["name"], num_files=4)
    assert len(t2.plan_files({"name": ("img_1", "img_1~")})) < 4


def test_expire_after_crashed_commit_keeps_current(spark, tmp_path, monkeypatch):
    """Retention anchors on the COMMITTED chain (walked from _current),
    never on manifests merely present on disk: an orphan manifest from
    a crashed commit must be expired, not displace the live snapshot
    (which a naive newest-N-on-disk rule would delete — data loss)."""
    from gelos_spark.tables import snapshot as snap_mod

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(0, 40).coalesce(1))
    s1 = t.current_snapshot_id()

    real_rename = snap_mod.os.rename

    def dying_rename(src, dst, *a, **k):
        if str(dst).endswith("_current"):
            raise RuntimeError("killed at the commit point")
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(snap_mod.os, "rename", dying_rename)
    with pytest.raises(RuntimeError):
        t.append(spark.range(40, 60).coalesce(1))
    monkeypatch.setattr(snap_mod.os, "rename", real_rename)
    assert os.path.exists(os.path.join(t.root, "manifests", f"{s1 + 1}.json"))

    res = t.expire_snapshots(keep_last=1)
    assert res["expired_manifests"] == 1  # the orphan, not the live one
    assert t.current_snapshot_id() == s1
    assert t.read(spark).count() == 40  # current snapshot fully intact
    assert t.snapshots() == [s1]


def test_empty_commit_keeps_schema_readable(spark, tmp_path):
    """A stage can legitimately produce 0 rows (filter matches
    nothing, fully-caught-up resume delta): the commit must register a
    schema-bearing empty file so read() returns an empty frame instead
    of raising."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite_partition(
        spark.range(0, 100).withColumn("v", F.col("id") * 2).where("id < 0"),
        partition="stage_a",
    )
    out = t.read(spark)
    assert out.count() == 0
    assert set(out.columns) == {"id", "v"}
    assert t.total_rows() == 0
    # the stage wrapper's commit-then-read path survives too
    p = Pipeline(spark, str(tmp_path / "p"), "r1")
    p.stage("empty", lambda sp: sp.range(5).where("id > 99"))
    assert p.output("empty").count() == 0


def test_compact_converges_and_keeps_clustering(spark, tmp_path):
    """compact() must be a fixpoint: once a partition's files are as
    packed as the target allows (ceil(total/target) files), further
    calls are no-ops — no eternal rewrite churn on every maintenance
    run. With cluster_by, the rewritten files keep tight disjoint key
    ranges (the layout the table declared)."""
    t = SnapshotTable(str(tmp_path / "t"))
    big = (
        spark.range(0, 60000)
        .withColumn("cell", (F.col("id") * F.lit(2654435761)) % F.lit(1_000_000))
        .withColumn("pad", F.sha2(F.col("id").cast("string"), 256))
    )
    t.overwrite(big, cluster_by=["cell"], num_files=8)
    sizes = [f["bytes"] for f in t.files()]
    target = int(sum(sizes) / 2.5)  # forces n_out=3 < 8 files
    sid = t.compact(spark, target_file_bytes=target, cluster_by=["cell"])
    assert sid is not None
    post = t.files()
    assert 1 < len(post) < 8
    # clustering preserved: per-file cell ranges are disjoint in order
    spans = sorted(f["stats"]["cell"] for f in post)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2
    # fixpoint: the packed files don't re-compact forever
    assert t.compact(spark, target_file_bytes=target, cluster_by=["cell"]) is None


def test_empty_commits_do_not_accumulate_zero_row_files(spark, tmp_path):
    """The schema-bearing empty file is kept only when the table would
    otherwise have NO files: an idle stream's empty batches (unique
    partition tags, schema already present) must not grow the manifest
    forever."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite_partition(spark.range(0, 10).coalesce(1), partition="batch-0")
    for i in (1, 2, 3):  # idle micro-batches
        t.overwrite_partition(spark.range(0).coalesce(1), partition=f"batch-{i}")
    assert len(t.files()) == 1  # just batch-0's file
    assert t.read(spark).count() == 10
    # appends behave the same once schema-bearing files exist
    t.append(spark.range(0).coalesce(1))
    assert len(t.files()) == 1


def test_expire_sweeps_stranded_current_tmp(spark, tmp_path, monkeypatch):
    from gelos_spark.tables import snapshot as snap_mod

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(0, 5).coalesce(1))
    real_rename = snap_mod.os.rename

    def dying_rename(src, dst, *a, **k):
        if str(dst).endswith("_current"):
            raise RuntimeError("killed at the commit point")
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(snap_mod.os, "rename", dying_rename)
    with pytest.raises(RuntimeError):
        t.append(spark.range(5, 9).coalesce(1))
    monkeypatch.setattr(snap_mod.os, "rename", real_rename)
    assert any(n.startswith("_current.tmp.") for n in os.listdir(t.root))
    t.expire_snapshots(keep_last=1)
    assert not any(n.startswith("_current.tmp.") for n in os.listdir(t.root))
    assert t.read(spark).count() == 5


def test_read_delta_incremental_consumption(spark, tmp_path):
    """Incremental scan: rows added between two snapshots, exactly;
    refuses intervals containing a rewrite (delta would not equal
    added rows)."""
    t = SnapshotTable(str(tmp_path / "t"))
    s1 = t.append(spark.range(0, 10).coalesce(1))
    s2 = t.append(spark.range(10, 25).coalesce(1))
    s3 = t.append(spark.range(25, 30).coalesce(1))
    assert sorted(r.id for r in t.read_delta(spark, s1).collect()) == list(range(10, 30))
    assert sorted(r.id for r in t.read_delta(spark, s1, s2).collect()) == list(range(10, 25))
    assert t.read_delta(spark, s3).count() == 0  # caught up
    t.compact(spark, target_file_bytes=1 << 20)
    with pytest.raises(ValueError, match="not\\s+append-only"):
        t.read_delta(spark, s2)


# ------------------------------------- checkpoint bookkeeping (driver)


def _must_not_run(sp):
    raise AssertionError("a done stage must be skipped")


def test_done_check_launches_no_spark_jobs(spark, tmp_path, jobs_launched):
    """The resume check answers from the checkpoint manifest: 0 jobs
    per check, and a full resume of three done stages launches 0 jobs
    (``stage`` returns nothing, so nothing reads the skipped tables)."""
    root = str(tmp_path / "run")
    stages = ["s1", "s2", "s3"]
    p1 = Pipeline(spark, root, "r1")
    for name in stages:
        p1.stage(name, lambda sp: sp.range(0, 20))
    p2 = Pipeline(spark, root, "r1")
    assert jobs_launched("done-check", lambda: p2.log.done_stages("r1")) == 0
    assert p2.log.done_stages("r1") == set(stages)

    def resume():
        for name in stages:
            p2.stage(name, _must_not_run)

    assert jobs_launched("full-resume", resume) == 0
    assert p2.skipped == stages and p2.executed == []


def test_resume_skips_stage_with_spark_written_lineage(spark, tmp_path):
    """A checkpoint table whose lineage was committed by a Spark write
    (the earlier on-disk format) still resume-skips its stage, and the
    log reads back with CHECKPOINT_SCHEMA's types over a mix of Spark-
    and pyarrow-written lineage files."""
    root = str(tmp_path / "run")
    p1 = Pipeline(spark, root, "r1")
    p1.table("s1").overwrite_partition(spark.range(0, 5), partition="s1")
    rows = [
        ("r1", "s1", "part-00000.parquet", -1, 5, 100, "file", 7, 1.5),
        ("r1", "s1", "__stage__", -1, 5, -1, "done", 7, 1.5),
    ]
    p1.log.table.overwrite_partition(
        spark.createDataFrame(rows, CHECKPOINT_SCHEMA), partition="r1/s1"
    )
    p2 = Pipeline(spark, root, "r1")
    p2.stage("s1", _must_not_run)
    p2.stage("s2", lambda sp: p2.output("s1").withColumn("y", F.col("id") + 1))
    assert p2.skipped == ["s1"] and p2.executed == ["s2"]

    want = spark.createDataFrame([], CHECKPOINT_SCHEMA).schema
    log = p2.log.read()
    assert [(f.name, f.dataType) for f in log.schema] == [(f.name, f.dataType) for f in want]
    done = {r.stage: r.rows_out for r in log.where("status = 'done'").collect()}
    assert done == {"s1": 5, "s2": 5}


def test_crash_in_lineage_commit_reruns_stage_without_duplicates(
    spark, tmp_path, monkeypatch
):
    """Die at the checkpoint table's commit point, after the stage's
    data commit: the stage has no done marker, so a resume re-runs it,
    and its lineage ends up committed exactly once."""
    root = str(tmp_path / "run")
    real_point = SnapshotTable._point_current

    def dying_point(self, sid):
        if self.root.endswith("_checkpoints"):
            raise RuntimeError("killed at the commit point")
        return real_point(self, sid)

    p1 = Pipeline(spark, root, "r1")
    p1.stage("s1", lambda sp: sp.range(0, 30).repartition(3))
    monkeypatch.setattr(SnapshotTable, "_point_current", dying_point)
    with pytest.raises(RuntimeError, match="commit point"):
        p1.stage("s2", lambda sp: sp.range(0, 40).repartition(2))
    monkeypatch.undo()

    p2 = Pipeline(spark, root, "r1")
    assert p2.log.done_stages("r1") == {"s1"}
    p2.stage("s1", _must_not_run)
    p2.stage("s2", lambda sp: sp.range(0, 40).repartition(2))
    assert p2.skipped == ["s1"] and p2.executed == ["s2"]

    lin = p2.log.lineage("r1").collect()
    for stage, n in (("s1", 30), ("s2", 40)):
        rows = [r for r in lin if r.stage == stage]
        ids = [r.partition_id for r in rows]
        assert len(ids) == len(set(ids))  # no duplicate lineage rows
        assert [r.rows_out for r in rows if r.status == "done"] == [n]
        assert sum(r.rows_out for r in rows if r.status == "file") == n
    assert p2.output("s2").count() == 40
