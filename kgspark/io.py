"""Checkpoint registry: every stage writes a keyed Parquet checkpoint and is
resumable — the formalization of the reference's "reload prior stage CSVs"
pattern (/root/reference/scripts/assign_canonical_names.py:22-46 and the
shell driver link_all_years.sh), per SURVEY.md §4 "Checkpoint/resume".

A stage checkpoint is a directory ``<root>/<stage>`` plus a ``_KG_DONE``
marker written only after a successful atomic write, so a killed run never
half-reads a stage. ``stage()`` is the one entry point: compute-or-load.

At cluster scale the same registry points at an object store / Iceberg
warehouse path; Parquet dirs are the local stand-in (Iceberg's runtime jar
is not vendored in this sandbox — the table layout, partition columns, and
MERGE-style idempotent rewrite are preserved).
"""

from __future__ import annotations

import shutil
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

MARKER = "_KG_DONE"


def spread(df: DataFrame) -> DataFrame:
    """Repartition a file input with fewer files than default parallelism
    to default-parallelism partitions; pass anything else through.

    A small single-file input arrives as ONE input partition (file size
    << maxPartitionBytes), and a file of one row group stays in one task
    however Spark splits it, which serializes every downstream map stage
    onto one core. At cluster scale inputs carry >= cores files and this
    is a no-op.

    The probe counts INPUT FILES, pure catalog metadata: no analysis, no
    RDD conversion. Non-file inputs (createDataFrame, generated pages,
    views, post-shuffle frames) report zero files, which is "no
    information", not "one partition", so they pass through untouched."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if 0 < len(df.inputFiles()) < parallelism:
        return df.repartition(parallelism)
    return df


class CheckpointRegistry:
    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _path(self, name: str) -> Path:
        return self.root / name

    def exists(self, name: str) -> bool:
        return (self._path(name) / MARKER).exists()

    def write(self, name: str, df: DataFrame, partition_by: list[str] | None = None) -> None:
        p = self._path(name)
        if p.exists():
            shutil.rmtree(p)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(p))
        (p / MARKER).write_text("{}")

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self._path(name)))

    def stage(self, name: str, compute: Callable[[], DataFrame],
              partition_by: list[str] | None = None) -> DataFrame:
        """Compute-or-load: the resume primitive. Skips completed stages."""
        if not self.exists(name):
            self.write(name, compute(), partition_by=partition_by)
        return self.read(name)

    def invalidate(self, name: str) -> None:
        p = self._path(name)
        if p.exists():
            shutil.rmtree(p)
