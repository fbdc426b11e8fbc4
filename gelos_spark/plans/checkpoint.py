"""Checkpoint / lineage / idempotent resume (SURVEY.md §2.9, M6;
north rule: "every stage writes per-partition lineage + row-count
metrics to a checkpoint Iceberg table so the job resumes idempotently
mid-pipeline").

A pipeline is a named sequence of stages. Each stage:

  1. is SKIPPED if the checkpoint log already holds a ``done`` marker
     for (run_id, stage) — the generalization of the reference's
     ``.embeddings_complete`` marker skip
     (gelos/embedding_generation.py:58-61). The check reads the
     checkpoint MANIFEST only (no Spark job): a stage's lineage is
     committed under the partition tag ``{run_id}/{stage}`` in the
     same atomic commit that holds its ``done`` row, so the tag is
     present exactly when the marker is;
  2. otherwise computes its DataFrame and commits it to the stage's
     SnapshotTable with ``overwrite_partition(partition=stage)`` —
     idempotent: a crash after data-write but before the marker
     re-runs the stage and replaces, never duplicates;
  3. then commits lineage rows to the checkpoint table: one row per
     written data file (the physical output partition) with row count
     + byte size, plus one ``done`` marker row with wall-clock ms. The
     few rows are written on the driver as one pyarrow parquet file
     (``SnapshotTable.overwrite_partition_arrow``) — no Spark job.

The checkpoint log itself is a SnapshotTable, so markers commit with
the same atomic-rename protocol and are queryable as a DataFrame
(per-partition metrics ARE rows, as the north rule requires, not log
lines).
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelos_spark.tables.snapshot import SnapshotTable

CHECKPOINT_SCHEMA = (
    "run_id string, stage string, partition_id string, rows_in long, "
    "rows_out long, bytes long, status string, wall_ms long, ts double"
)
_ARROW_TYPES = {"string": pa.string(), "long": pa.int64(), "double": pa.float64()}
#: CHECKPOINT_SCHEMA as the Arrow schema of a driver-written lineage file
CHECKPOINT_ARROW_SCHEMA = pa.schema(
    [(name, _ARROW_TYPES[typ]) for name, typ in (c.split() for c in CHECKPOINT_SCHEMA.split(", "))]
)


class CheckpointLog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = SnapshotTable(root)

    def read(self) -> DataFrame:
        if self.table.is_empty():
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        return self.table.read(self.spark)

    def done_stages(self, run_id: str) -> set[str]:
        # manifest only: record() commits each stage's done marker under
        # the tag f"{run_id}/{stage}", so the tag stands for the marker
        prefix = f"{run_id}/"
        return {
            tag[len(prefix):]
            for tag in self.table.partitions()
            if isinstance(tag, str) and tag.startswith(prefix)
        }

    def record(self, rows: list[tuple]) -> None:
        table = pa.Table.from_arrays(list(zip(*rows)), schema=CHECKPOINT_ARROW_SCHEMA)
        # one checkpoint commit per stage, tagged by (run, stage) so a
        # re-run replaces its own lineage instead of duplicating it
        run_id, stage = rows[0][0], rows[0][1]
        self.table.overwrite_partition_arrow(table, partition=f"{run_id}/{stage}")

    def lineage(self, run_id: str) -> DataFrame:
        return self.read().where(F.col("run_id") == run_id).orderBy("stage", "partition_id")


class Pipeline:
    """Checkpoint-resumable multi-stage pipeline over SnapshotTables."""

    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self.log = CheckpointLog(spark, f"{root}/_checkpoints")
        self._tables: dict[str, SnapshotTable] = {}
        self.skipped: list[str] = []
        self.executed: list[str] = []

    def table(self, stage: str) -> SnapshotTable:
        if stage not in self._tables:
            self._tables[stage] = SnapshotTable(f"{self.root}/{stage}")
        return self._tables[stage]

    def output(self, stage: str) -> DataFrame:
        return self.table(stage).read(self.spark)

    def stage(
        self,
        name: str,
        fn: Callable[[SparkSession], DataFrame],
        cluster_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> None:
        """Run (or resume-skip) one stage; ``output(name)`` reads what
        it committed. ``cluster_by`` commits the stage table
        range-sorted on the given keys so manifest min/max stats prune
        later range scans (tables/snapshot.py)."""
        tbl = self.table(name)
        if name in self.log.done_stages(self.run_id):
            self.skipped.append(name)
            return

        t0 = time.time()
        df = fn(self.spark)
        tbl.overwrite_partition(  # idempotent commit
            df, partition=name, cluster_by=cluster_by, num_files=num_files
        )
        wall_ms = int((time.time() - t0) * 1000)

        now = time.time()
        lineage = [
            (
                self.run_id,
                name,
                f["path"].rsplit("/", 1)[-1],
                -1,  # rows_in: not recorded
                f["rows"],
                f["bytes"],
                "file",
                wall_ms,
                now,
            )
            for f in tbl.files()
            if f["partition"] == name
        ]
        total = sum(r[4] for r in lineage)
        lineage.append(
            (self.run_id, name, "__stage__", -1, total, -1, "done", wall_ms, now)
        )
        self.log.record(lineage)
        self.executed.append(name)

