"""The eager_cut seam (r11 ADVICE #1): every one-shot "compute once,
reuse" materialization routes through session.eager_cut so cluster
deployments can swap localCheckpoint for recoverable forms. Pins: the
three modes return identical rows, 'local' truncates lineage (LogicalRDD
plan), 'persist' keeps lineage but materializes storage, the knob
defaults to 'local', and any other value is rejected."""

from __future__ import annotations

import os
from unittest import mock

import pytest
from pyspark.sql import functions as F

from ai_knowledge_etl_spark.session import eager_cut


def _frame(spark):
    return (
        spark.range(100)
        .select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )


def test_modes_return_identical_rows(spark):
    expected = sorted(map(tuple, _frame(spark).collect()))
    with mock.patch.dict(os.environ, {}, clear=False):
        os.environ.pop("SPARK_GRAFT_EAGER_CUT", None)
        local = eager_cut(_frame(spark))
    assert sorted(map(tuple, local.collect())) == expected
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_EAGER_CUT": "persist"}):
        persisted = eager_cut(_frame(spark))
    try:
        assert sorted(map(tuple, persisted.collect())) == expected
    finally:
        persisted.unpersist()
    ckpt_dir = "/tmp/spark_graft_test_ckpt"
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_EAGER_CUT": "reliable"}):
        reliable = eager_cut(_frame(spark))
    assert sorted(map(tuple, reliable.collect())) == expected


def test_local_mode_truncates_lineage_persist_keeps_it(spark):
    with mock.patch.dict(os.environ, {}, clear=False):
        os.environ.pop("SPARK_GRAFT_EAGER_CUT", None)
        local = eager_cut(_frame(spark))
    # eager localCheckpoint rewrites the plan to a LogicalRDD scan
    assert "LogicalRDD" in local._jdf.queryExecution().optimizedPlan().toString()
    with mock.patch.dict(os.environ, {"SPARK_GRAFT_EAGER_CUT": "persist"}):
        persisted = eager_cut(_frame(spark))
    try:
        plan = persisted._jdf.queryExecution().optimizedPlan().toString()
        # lineage retained (recomputable on block loss) + storage filled
        assert "InMemoryRelation" in plan
        assert persisted.storageLevel.useMemory
    finally:
        persisted.unpersist()


def test_unknown_mode_is_rejected(spark):
    """SPARK_GRAFT_EAGER_CUT accepts exactly local, persist and reliable."""
    for mode in ("off", ""):
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_EAGER_CUT": mode}):
            with pytest.raises(ValueError):
                eager_cut(_frame(spark))
