"""SparkSession factory tuned for this engine.

Engine code never creates sessions implicitly — operators take ``spark`` or
DataFrames as arguments. This factory is for tests, ``bench.py`` and the
driver entry point.

Scale posture (100 TB readiness, tested on local[32]):
  - AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
    dynamic broadcast-join demotion/promotion replace hand-tuned plans.
  - shuffle.partitions sized to the local core count here; on a real cluster
    AQE coalesces from a high initial number, so we set the initial high and
    let AQE shrink, instead of hardcoding per-job values.
  - Arrow enabled: every pandas UDF / mapInPandas crosses the JVM↔Python
    boundary in columnar batches, not pickled rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ai_knowledge_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    adaptive: bool = True,
) -> SparkSession:
    """`adaptive` (AQE) defaults ON — coalescing/skew-split/broadcast-demotion
    are the scale story. It is worth turning OFF for sub-GB microbenchmarks:
    measured here, AQE's per-stage re-planning roughly doubles wall time on
    tiny inputs while buying nothing (bench.py does exactly that)."""
    # Must run BEFORE the JVM launches: makes google.protobuf importable in
    # the TWS pre-init runner and Python workers via inherited PYTHONPATH
    # (no-op when protobuf is properly installed; see compat.py).
    from ai_knowledge_etl_spark.compat import ensure_protobuf

    ensure_protobuf()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    aqe = "true" if adaptive else "false"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .config("spark.sql.session.timeZone", "UTC")
        # JVM case mapping for lower/upper: the ICU path's first call per JVM
        # builds a title-case table over all 1.1M code points (docs/PERF.md)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python DataSource filter pushdown (sources/pagesource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # static conf — bucketed-table tests need a writable warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/spark-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- tracked persist accounting ---------------------------------------------
# Several operators persist() an intermediate whose consumers are LAZY (the
# LSH band frame, the PMI pair aggregate, the KMV sample): the cache must
# outlive the function, so in-function unpersist is impossible, and Spark's
# ContextCleaner only drops the blocks once the JVM-side DataFrame is GC'd —
# which a long benchmark session (4+ sweeps x 293 queries) reaches late, so
# pinned storage grows across sweeps (r8 ADVICE). Operators route those
# persists through track_persist(); queries that stage files (streaming
# sinks, written tables) take their workdir from scratch_dir(). Batch
# drivers (bench.py's pass/sweep boundaries) call release_persisted() to
# drop every tracked block and remove every scratch dir deterministically.
# Unpersist is always CORRECT (a released frame just recomputes); a removed
# scratch dir is not, so release only where no built frame is still unread.
_TRACKED: list = []


def track_persist(df):
    """df.persist() + register the frame for release_persisted()."""
    df = df.persist()
    _TRACKED.append(df)
    return df


def scratch_dir(prefix: str) -> str:
    """A fresh tmp workdir, registered for removal by release_persisted()."""
    path = tempfile.mkdtemp(prefix=prefix)
    _TRACKED.append(path)
    return path


def release_persisted() -> int:
    """Unpersist every tracked frame (non-blocking) and remove every
    scratch dir; returns the count."""
    n = len(_TRACKED)
    for item in _TRACKED:
        if isinstance(item, str):
            shutil.rmtree(item, ignore_errors=True)
            continue
        try:
            item.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to release
    _TRACKED.clear()
    return n


def eager_cut(df):
    """Materialize an intermediate and truncate/park its lineage — the
    framework seam for every one-shot "compute once, reuse under N
    consumers" cut (r11 ADVICE #1).

    Default is eager ``localCheckpoint()``: cheapest on a single node and
    what the bench measures — but its blocks live only in executor
    storage WITHOUT lineage, so on a real cluster an executor loss (or
    dynamic-allocation scale-in) makes them unrecoverable and fails the
    job instead of recomputing. ``SPARK_GRAFT_EAGER_CUT`` selects the
    cluster-safe fallbacks:

      local     (default) eager localCheckpoint — fastest, not
                fault-tolerant
      persist   bare persist() (MEMORY_AND_DISK_DESER in PySpark 4.1) +
                count() — blocks are recomputable from lineage on
                executor loss; lineage is NOT truncated (fine for
                one-shot cuts; plan size grows with the upstream, so
                pathological upstreams plan slower)
      reliable  checkpoint(eager=True) to the configured
                spark.sparkContext.setCheckpointDir — fault-tolerant AND
                truncated, at the cost of a distributed write

    Any other value raises ValueError.

    Iterative-loop state sites (the CC label loop, BFS frontiers, the
    BPE merge loop, the sequential-id partition pin) deliberately do NOT
    route through this seam: their correctness-at-scale depends on
    per-round lineage truncation (persist would re-plan a quadratically
    growing tree) and on localCheckpoint's RDD-id release discipline.
    """
    mode = os.environ.get("SPARK_GRAFT_EAGER_CUT", "local")
    if mode == "local":
        return df.localCheckpoint()
    if mode == "persist":
        df = df.persist()
        df.count()
        return df
    if mode == "reliable":
        return df.checkpoint(eager=True)
    raise ValueError(
        f"SPARK_GRAFT_EAGER_CUT={mode!r}: expected local, persist or reliable"
    )
