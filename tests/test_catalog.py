"""Fixture-table catalog: the pinned SCHEMAS match every fixture footer, and
loading a table starts no Spark job."""

from __future__ import annotations

import glob
import os

from pyspark.sql.types import StructType

from ai_knowledge_etl_spark.sources.catalog import SCHEMAS, TABLES, load_table


def _job_ids(spark, group: str) -> set[int]:
    sc = spark.sparkContext
    # the status store is fed by the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def test_schemas_match_every_fixture_footer(spark, sf_dir):
    """A pinned schema that disagrees with the footer does not fail the
    read: a typo'd column reads as nulls, and a DECIMAL column requested as
    DOUBLE reads as its unscaled integer."""
    siblings = glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))
    dirs = sorted({sf_dir, *siblings})
    mismatches = {}
    for d in dirs:
        for t in TABLES:
            path = os.path.join(d, f"{t}.parquet")
            if not os.path.exists(path):
                continue
            inferred = spark.read.parquet(path).schema
            if inferred != StructType.fromDDL(SCHEMAS[t]):
                mismatches[path] = inferred.simpleString()
    assert not mismatches, mismatches


def test_load_table_starts_no_job(spark, sf_dir):
    sc = spark.sparkContext
    group = "test_catalog.load_table"
    sc.setJobGroup(group, "load every fixture table")
    try:
        before = _job_ids(spark, group)
        for t in TABLES:
            load_table(spark, sf_dir, t)
        after_loads = _job_ids(spark, group)
        # control: an inferring read in the same group is seen as a job
        spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        after_control = _job_ids(spark, group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after_loads == before
    assert after_control > after_loads
