"""Lineage / checkpoint / resume protocol tests (north rule)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from geokit_spark.functions.geo import grid_cell_id, with_geocode
from geokit_spark.plans.lineage import CheckpointTable, lineage_rows


@pytest.fixture()
def ckpt_dir(tmp_path):
    return str(tmp_path / "ckpt")


def _work(spark, docs):
    return with_geocode(docs.select("doc_id")).withColumn(
        "cell_id", grid_cell_id(F.col("lon"), F.col("lat"))
    )


def _ten_cells(spark):
    """1000 rows in 10 cells of 100."""
    return spark.range(1000).select(
        (F.col("id") % 10).alias("cell_id"), (F.col("id") * 7).alias("v")
    )


def _attempt_dir(parent):
    (name,) = [d for d in os.listdir(parent) if d.startswith("attempt=")]
    return os.path.join(parent, name)


def test_stage_runs_then_noop(spark, docs, ckpt_dir):
    ck = CheckpointTable(spark, ckpt_dir)
    work = _work(spark, docs)
    cells1, rows1 = ck.run_stage("geocode", work)
    assert cells1 > 0 and rows1 == docs.count()
    # idempotent: second run does nothing
    cells2, rows2 = ck.run_stage("geocode", work)
    assert (cells2, rows2) == (0, 0)
    # stored data is complete
    assert ck.data("geocode").count() == rows1


def test_resume_after_lost_cell(spark, docs, ckpt_dir):
    ck = CheckpointTable(spark, ckpt_dir)
    work = _work(spark, docs)
    ck.run_stage("s1", work)
    lin = ck.lineage().filter(F.col("stage") == "s1").toPandas()
    # simulate a lost cell: rewrite the committed attempt's lineage
    # without one cell
    victim = int(lin.cell_id.iloc[0])
    committed = _attempt_dir(ck.lineage_path)
    kept = spark.read.parquet(committed).filter(F.col("cell_id") != victim)
    tmp = ckpt_dir + "_lin_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(committed)
    shutil.move(tmp, committed)
    # resume: exactly the victim cell re-runs
    cells, rows = ck.run_stage("s1", work)
    assert cells == 1
    expected = work.filter(F.col("cell_id") == victim).count()
    assert rows == expected


def test_checksum_order_independent(spark, docs):
    work = _work(spark, docs)
    a = lineage_rows(work, "x").select("cell_id", "row_count", "checksum")
    b = lineage_rows(work.repartition(17), "x").select(
        "cell_id", "row_count", "checksum"
    )
    pa = a.toPandas().sort_values("cell_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("cell_id").reset_index(drop=True)
    assert pa.equals(pb)


def test_verify_stage_detects_tamper(spark, docs, ckpt_dir):
    ck = CheckpointTable(spark, ckpt_dir)
    work = _work(spark, docs)
    ck.run_stage("s2", work)
    ok = ck.verify_stage("s2").toPandas()
    assert ok["ok"].all()
    # tamper: append duplicate rows for one cell into the committed
    # attempt's data dir
    extra = work.limit(3)
    committed = _attempt_dir(os.path.join(ckpt_dir, "s2"))
    extra.write.mode("append").parquet(committed)
    ok2 = ck.verify_stage("s2").toPandas()
    assert not ok2["ok"].all()


def test_lineage_write_crash_resumes_exactly(spark, ckpt_dir, monkeypatch):
    """The first lineage write fails after its data write: the resume
    stores every row once and every cell verifies."""
    work = _ten_cells(spark)
    real = DataFrameWriter.parquet
    crashed = []

    def parquet(self, path, *a, **kw):
        if "_lineage" in path and not crashed:
            crashed.append(path)
            raise OSError("injected lineage write failure")
        return real(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    ck = CheckpointTable(spark, ckpt_dir)
    with pytest.raises(OSError):
        ck.run_stage("s", work)
    assert crashed
    assert ck.run_stage("s", work) == (10, 1000)
    assert ck.data("s").count() == 1000
    ok = ck.verify_stage("s").toPandas()
    assert len(ok) == 10 and ok["ok"].all()


def test_uncommitted_attempt_invisible_then_reaped(spark, ckpt_dir):
    work = _ten_cells(spark)
    ck = CheckpointTable(spark, ckpt_dir)
    assert ck.run_stage("s", work.filter(F.col("cell_id") < 5)) == (5, 500)
    # an attempt whose lineage never committed (a crashed run)
    orphan = os.path.join(ckpt_dir, "s", "attempt=orphan")
    work.filter(F.col("cell_id") >= 5).write.parquet(orphan)
    assert ck.data("s").count() == 500
    ok = ck.verify_stage("s").toPandas()
    assert sorted(ok["cell_id"]) == [0, 1, 2, 3, 4] and ok["ok"].all()
    assert ck.run_stage("s", work) == (5, 500)
    assert not os.path.exists(orphan)
    assert ck.data("s").count() == 1000
    assert ck.verify_stage("s").toPandas()["ok"].all()


def test_verify_stage_other_cell_column(spark, ckpt_dir):
    """A stage run over another cell column verifies over that column."""
    work = _ten_cells(spark).withColumnRenamed("cell_id", "zone")
    ck = CheckpointTable(spark, ckpt_dir)
    assert ck.run_stage("z", work, cell_col="zone") == (10, 1000)
    ok = ck.verify_stage("z", cell_col="zone").toPandas()
    assert sorted(ok["cell_id"]) == list(range(10)) and ok["ok"].all()


def test_stage_jobs_and_no_sort_merge_join(spark, docs, ckpt_dir, spark_jobs):
    """First call, no-op resume and verify: a bounded number of jobs and
    no SortMergeJoin (the completed-cell side is broadcast)."""
    ck = CheckpointTable(spark, ckpt_dir)
    work = _work(spark, docs)
    with spark_jobs() as first:
        ck.run_stage("s", work)
    with spark_jobs() as resume:
        assert ck.run_stage("s", work) == (0, 0)
    with spark_jobs() as verify:
        assert ck.verify_stage("s").toPandas()["ok"].all()
    assert first.jobs <= 5 and resume.jobs <= 4
    for w in (first, resume, verify):
        assert w.plans
        assert not any("SortMergeJoin" in p for p in w.plans)
