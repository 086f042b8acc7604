"""Merge-on-read DML cost pins: the Spark job count of each DML shape
(a ceiling per shape, independent of ``local[N]``) and the no-orphan
rule — a DML call that tombstones nothing stages no sidecar directory
under ``deletes/``."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.sources.snapshots import (
    SnapshotTable,
    load_manifest,
)


def _table(spark, prefix="dmljobs"):
    """1,000 rows (k, v) in 4 files."""
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix=f"{prefix}_"))
    t.commit_append(
        spark.range(1000)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        .repartition(4)
    )
    assert len(load_manifest(t.root, t.current_version())["files"]) == 4
    return t


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"dmljobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "DML job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )


def _update_v():
    return {"v": F.col("__src_v")}


SHAPES = {
    "delete_hit": (
        5, lambda s, t: t.delete_where(F.col("k") < 10),
    ),
    "delete_miss": (
        4, lambda s, t: t.delete_where(F.col("k") < 0),
    ),
    "update_hit": (
        6, lambda s, t: t.update_where(
            F.col("k") < 10, {"v": F.col("v") + 1}
        ),
    ),
    "replace_hit": (
        9, lambda s, t: t.replace_where(
            F.col("k") < 10, _src(s, 0, 10)
        ),
    ),
    "merge_update_insert": (
        15, lambda s, t: t.merge_mor(
            _src(s, 990, 1010), on=["k"], when_matched_update=_update_v()
        ),
    ),
    "merge_insert_only": (
        6, lambda s, t: t.merge_mor(_src(s, 990, 1010), on=["k"]),
    ),
    "merge_not_matched_by_source_delete": (
        19, lambda s, t: t.merge_mor(
            _src(s, 990, 1010), on=["k"],
            when_matched_update=_update_v(),
            when_not_matched_by_source_delete=True,
        ),
    ),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_dml_job_count_ceiling(spark, shape):
    ceiling, run = SHAPES[shape]
    t = _table(spark)
    n = _jobs(spark, lambda: run(spark, t))
    assert n <= ceiling, f"{shape}: {n} Spark jobs > ceiling {ceiling}"


def test_empty_table_identity_merge_job_count(spark):
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="dmljobs_empty_"))
    t.add_identity_column("rid", start=1, step=1)
    n = _jobs(
        spark,
        lambda: t.merge_mor(
            spark.range(5).select(F.col("id").alias("k")), on=["k"]
        ),
    )
    assert n <= 1, f"empty-table identity merge: {n} Spark jobs > 1"
    assert t.read().count() == 5


NO_TOMBSTONE = {
    "delete_miss": lambda s, t: t.delete_where(F.col("k") < 0),
    "update_miss": lambda s, t: t.update_where(
        F.col("k") < 0, {"v": F.col("v") + 1}
    ),
    "merge_matched_clause_misses": lambda s, t: t.merge_mor(
        _src(s, 2000, 2010), on=["k"], when_matched_update=_update_v()
    ),
    "merge_insert_only": lambda s, t: t.merge_mor(
        _src(s, 990, 1010), on=["k"]
    ),
    "replace_miss": lambda s, t: t.replace_where(
        F.col("k") < 0, _src(s, -5, 0)
    ),
}


@pytest.mark.parametrize("shape", sorted(NO_TOMBSTONE))
def test_dml_without_tombstones_stages_no_sidecar(spark, shape):
    t = _table(spark, "dmlnoside")
    before = t.read().count()
    NO_TOMBSTONE[shape](spark, t)
    deletes = os.path.join(t.root, "deletes")
    left = os.listdir(deletes) if os.path.isdir(deletes) else []
    assert left == [], f"{shape} staged orphan sidecar(s): {left}"
    assert t.read().count() >= before
