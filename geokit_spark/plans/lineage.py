"""Per-partition lineage + idempotent resume (north rule).

Every stage that materializes results also emits one lineage row per
work cell:

    (stage, cell_id, row_count, checksum, completed_at)

checksum is an order-independent content digest: the per-row md5 of
the canonical row JSON is truncated to 60 bits and summed modulo 2^61
— commutative, so the digest is identical regardless of partitioning
or execution order (the same property that lets the zonal aggs
bit-match under any plan). Both the sum and count are computed
map-side (partial agg) — no extra shuffle beyond the cell groupBy.

Commit protocol (the publish-by-rename of sources/snapshots.py): one
``run_stage`` call is one attempt. Its data lands in
``<root>/<stage>/attempt=<id>/``; its lineage, computed from the files
it just wrote, goes to a hidden directory inside that attempt and is
then ``os.rename``d to ``<root>/_lineage/attempt=<id>/``. That rename
is the commit: readers (``lineage``, ``data``, ``verify_stage``) list
the committed attempts on the Spark driver and read only those, so a
crash anywhere before it leaves an attempt no reader sees, and the
next ``run_stage`` deletes it.

Resume protocol (FIXTURES.md §9):
    pending = work ANTI JOIN committed lineage ON (stage, cell_id)
Re-running a completed stage is a no-op; deleting a cell's lineage row
re-enqueues exactly that cell. Resume does not compare checksums;
``verify_stage`` recomputes them from the stored data.

Storage is local parquet (the Iceberg catalog jars are not shipped
here): each attempt maps 1:1 to an Iceberg append, data files first,
visible once the lineage (the metadata) is committed.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

CHECKSUM_MOD = 1 << 61
LINEAGE_SCHEMA = (
    "stage string, cell_id long, row_count long, "
    "checksum long, completed_at timestamp"
)
_ATTEMPT = "attempt="


def _attempt_dirs(path: str) -> list[str]:
    try:
        return sorted(d for d in os.listdir(path) if d.startswith(_ATTEMPT))
    except FileNotFoundError:
        return []


def row_digest_col(df: DataFrame, exclude=("cell_id",)) -> F.Column:
    """Order-independent 60-bit content digest of a row."""
    cols = [c for c in df.columns if c not in exclude]
    canon = F.to_json(F.struct(*[F.col(c) for c in sorted(cols)]))
    return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")


def lineage_rows(df: DataFrame, stage: str, cell_col: str = "cell_id") -> DataFrame:
    """(stage, cell_id, row_count, checksum) aggregated per cell."""
    digest = row_digest_col(df, exclude=(cell_col,))
    return (
        df.withColumn("_digest", digest)
        .groupBy(F.col(cell_col).alias("cell_id"))
        .agg(
            F.count("*").alias("row_count"),
            # sum in exact decimal(38,0): a long sum of 60-bit digests
            # overflows int64 (ANSI throw) after ~8 rows per cell; the
            # decimal sum is exact, so sum % 2^61 equals the
            # arbitrary-precision python golden
            (
                F.sum(F.col("_digest").cast("decimal(38,0)"))
                % F.lit(CHECKSUM_MOD)
            )
            .cast("long")
            .alias("checksum"),
        )
        .select(
            F.lit(stage).alias("stage"),
            "cell_id",
            "row_count",
            "checksum",
            F.current_timestamp().alias("completed_at"),
        )
    )


class CheckpointTable:
    """Append-only lineage store + resumable stage runner, committed
    one attempt at a time (see the module docstring for the layout)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.lineage_path = os.path.join(root, "_lineage")

    def _attempts(self, stage: str) -> tuple[list[str], list[str]]:
        """(committed, uncommitted) attempt directory names of a stage."""
        committed = set(_attempt_dirs(self.lineage_path))
        names = _attempt_dirs(os.path.join(self.root, stage))
        return (
            [a for a in names if a in committed],
            [a for a in names if a not in committed],
        )

    def _read_lineage(self, attempts: list[str]) -> DataFrame:
        if not attempts:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            *[os.path.join(self.lineage_path, a) for a in attempts]
        )

    def lineage(self) -> DataFrame:
        """Every committed lineage row, all stages."""
        return self._read_lineage(_attempt_dirs(self.lineage_path))

    def data(self, stage: str) -> DataFrame:
        """The stage's stored rows: committed attempts only."""
        attempts, _ = self._attempts(stage)
        if not attempts:
            raise ValueError(f"stage {stage!r} has no committed data")
        return self.spark.read.parquet(
            *[os.path.join(self.root, stage, a) for a in attempts]
        )

    def run_stage(
        self,
        stage: str,
        work: DataFrame,
        cell_col: str = "cell_id",
    ) -> tuple[int, int]:
        """Materialize `work` for the cells with no committed lineage
        as one new attempt, and commit it. Returns (cells_processed,
        rows_written). Idempotent: a second call processes 0 cells."""
        done, orphans = self._attempts(stage)
        stage_dir = os.path.join(self.root, stage)
        for a in orphans:
            shutil.rmtree(os.path.join(stage_dir, a))
        todo = work
        if done:
            cells = self._read_lineage(done).select(
                F.col("cell_id").alias(cell_col)
            )
            todo = work.join(F.broadcast(cells), cell_col, "left_anti")
        attempt = f"{_ATTEMPT}{uuid.uuid4().hex}"
        out = os.path.join(stage_dir, attempt)
        wrote = Observation()
        todo.observe(wrote, F.count(F.lit(1)).alias("rows")).write.parquet(out)
        if wrote.get["rows"] == 0:
            shutil.rmtree(out)
            return 0, 0
        # readers of `out` skip "_"-prefixed names, so the lineage can
        # be staged inside the attempt until the rename publishes it
        staged = os.path.join(out, "_lineage")
        stored = self.spark.read.schema(todo.schema).parquet(out)
        committed = Observation()
        lineage_rows(stored, stage, cell_col).observe(
            committed,
            F.count(F.lit(1)).alias("cells"),
            F.sum("row_count").alias("rows"),
        ).write.parquet(staged)
        os.makedirs(self.lineage_path, exist_ok=True)
        os.rename(staged, os.path.join(self.lineage_path, attempt))
        return committed.get["cells"], committed.get["rows"]

    def verify_stage(self, stage: str) -> DataFrame:
        """Recompute checksums from the stored data and compare with
        the lineage rows: (cell_id, ok). Detects partial/corrupt
        writes before trusting a resume."""
        attempts, _ = self._attempts(stage)
        fresh = lineage_rows(self.data(stage), stage).select(
            "cell_id",
            F.col("row_count").alias("rc2"),
            F.col("checksum").alias("ck2"),
        )
        lin = self._read_lineage(attempts)
        return lin.join(F.broadcast(fresh), "cell_id", "left").select(
            "cell_id",
            (
                (F.col("row_count") == F.col("rc2"))
                & (F.col("checksum") == F.col("ck2"))
            ).alias("ok"),
        )
