"""Native Structured Streaming coverage (SURVEY §2.J): the batch operators
are oracle-checked in the registry; here the *streaming* variants run with
Trigger.AvailableNow against the same data and must agree with batch — the
Structured Streaming correctness property (prefix-consistent incremental
execution of the same query)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_knowledge_etl_spark.sources.catalog import load_table
from ai_knowledge_etl_spark.streaming import events as EV


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    batch = load_table(spark, sf_dir, "events")
    path = str(tmp_path_factory.mktemp("events_stream"))
    batch.write.mode("overwrite").parquet(path)
    return (
        spark.readStream.schema(batch.schema).parquet(path),
        batch,
    )


def _run_available_now(sdf, name: str, spark):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_tumbling_matches_batch(spark, events_stream):
    stream, batch = events_stream
    got = _run_available_now(
        EV.streaming_tumbling_counts(stream), "t_tumble", spark
    ).collect()
    want = EV.streaming_tumbling_counts(batch).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_streaming_session_matches_batch(spark, events_stream):
    stream, batch = events_stream
    got = _run_available_now(
        EV.streaming_session_counts(stream), "t_sess", spark
    ).collect()
    want = EV.streaming_session_counts(batch).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_streaming_dedup_within_watermark_matches_batch(
    spark, sf_dir, tmp_path
):
    """At-least-once delivery (every 10th event written twice) →
    dropDuplicatesWithinWatermark recovers the exactly-once set, equal to
    the registered batch twin (stream-dedup-watermark)."""
    from ai_knowledge_etl_spark.registry import REGISTRY

    batch = load_table(spark, sf_dir, "events")
    dup = batch.unionByName(batch.where("event_id % 10 = 0"))
    path = str(tmp_path / "dup_events")
    dup.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)

    out = EV.streaming_dedup_within_watermark(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM t_dedup_wm").collect())
    )
    want = sorted(
        map(
            tuple,
            REGISTRY["stream-dedup-watermark"].spark(spark, sf_dir).collect(),
        )
    )
    assert got == want
    assert len(got) == batch.count()  # every duplicate collapsed


def test_foreach_batch_upsert_is_effectively_exactly_once(
    spark, sf_dir, tmp_path
):
    """foreachBatch + idempotent MERGE = exactly-once end to end: the sink
    table equals the distinct batch result, and a full REPLAY of the same
    stream (fresh query, fresh checkpoint — the at-least-once failure mode)
    leaves the table byte-identical instead of duplicating rows."""
    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    dup = batch.unionByName(batch.where("event_id % 10 = 0"))
    src = str(tmp_path / "src")
    dup.write.mode("overwrite").parquet(src)
    table = str(tmp_path / "table")

    def run_once():
        stream = spark.readStream.schema(dup.schema).parquet(src)
        q = EV.foreach_batch_upsert(stream, table, key="event_id", rev_col="ts")
        q.awaitTermination(120)

    run_once()
    got = spark.read.parquet(table).select(*batch.columns)
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0

    run_once()  # replay everything — must be a no-op on the table
    again = spark.read.parquet(table).select(*batch.columns)
    assert again.count() == batch.count()
    assert again.exceptAll(batch).count() == 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Late rows beyond the watermark are discarded in update mode: feed two
    micro-batches where the second is older than watermark allows."""
    import pandas as pd

    p1 = str(tmp_path / "b1")
    p2 = str(tmp_path / "b2")
    schema = "event_time timestamp, k string"
    on_time = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_time": pd.to_datetime(
                    ["2024-01-01 10:00:00", "2024-01-01 12:00:00"]
                ),
                "k": ["a", "a"],
            }
        ),
        schema,
    )
    on_time.write.mode("overwrite").parquet(p1)

    stream = spark.readStream.schema(on_time.schema).parquet(str(tmp_path), pathGlobFilter="*.parquet", recursiveFileLookup="true")
    agg = (
        stream.withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "10 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits only windows older than the watermark: the 10:00
    # window is closed by the 12:00 event, the 12:00 window is not emitted
    rows = spark.sql("SELECT * FROM t_late").collect()
    starts = {r["window"]["start"].isoformat() for r in rows}
    assert "2024-01-01T10:00:00" in starts
    assert "2024-01-01T12:00:00" not in starts


def test_stateful_running_count(spark, events_stream):
    """Custom stateful operator via applyInPandasWithState: running per-user
    event count (the visited-set state shape of the crawl loop)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream, batch = events_stream

    def count_fn(key, pdf_iter, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

    out = stream.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: r["n"]
        for r in spark.sql(
            "SELECT user_id, max(n) AS n FROM t_state GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_streaming_dedup_within_watermark(spark, events_stream):
    """dropDuplicatesWithinWatermark — the streaming visited-set: an event id
    seen twice inside the watermark horizon survives once (SURVEY §2.J
    coverage note; the crawl's at-most-once URL visits as a built-in)."""
    stream, batch = events_stream
    deduped = (
        EV.with_event_time(stream)
        .withWatermark("event_time", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy()
        .count()
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM t_dedup").first()["count"]
    assert got == batch.select("event_id").distinct().count()


def test_streaming_frontier_matches_batch_bfs(spark, sf_dir, tmp_path):
    """The self-feeding streaming frontier must reach the same fixpoint as
    the batch-iterative loop (which the recursive-CTE oracle already
    checks) — streaming-native and batch crawls agree exactly."""
    from ai_knowledge_etl_spark.streaming.frontier import (
        bfs_frontier,
        streaming_bfs_frontier,
    )

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    edges = docs.selectExpr("doc_id % 50 AS src", "doc_id AS dst").unionByName(
        docs.selectExpr(f"doc_id AS src", f"(doc_id * 7 + 13) % {n} AS dst")
    )
    seeds = docs.where("doc_id < 3").select("doc_id")
    want = sorted(
        (r["doc_id"], r["depth"])
        for r in bfs_frontier(edges, seeds, max_depth=3).collect()
    )
    got = sorted(
        (r["doc_id"], r["depth"])
        for r in streaming_bfs_frontier(
            spark, edges, seeds, str(tmp_path), max_depth=3
        ).collect()
    )
    assert got == want and len(got) > 3


def test_frontier_terminates_and_respects_budget(spark, sf_dir):
    from ai_knowledge_etl_spark.streaming.frontier import bfs_frontier

    docs = load_table(spark, sf_dir, "documents")
    edges = docs.selectExpr("doc_id % 50 AS src", "doc_id AS dst")
    seeds = docs.where("doc_id < 3").select("doc_id")
    out = bfs_frontier(edges, seeds, max_depth=3, max_pages=10)
    rows = out.collect()
    assert 3 <= len(rows)  # at least the seeds
    assert max(r["depth"] for r in rows) <= 3
    # budget stops expansion after the wave that crossed it
    assert len(rows) < 100


def test_transform_with_state_running_stats(spark, events_stream):
    """transformWithStateInPandas (Spark 4.x StatefulProcessor): running
    per-user (count, sum) must converge to the batch groupBy answer."""
    from ai_knowledge_etl_spark.streaming import stateful

    if not stateful.HAS_TWS:
        # Documented hard env blocker (round-3 verdict #6): Spark 4.1's TWS
        # proto gencode needs protobuf>=5.27 (runtime_version import); this
        # container has no google.protobuf and no network. Verified
        # in-sandbox: the RocksDB provider loads and the streaming runner
        # initializes right up to that import (see streaming/stateful.py).
        pytest.skip(
            "transformWithState needs google.protobuf>=5.27 in the env "
            "(absent here; RocksDB provider itself verified present)"
        )
    stream, batch = events_stream
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        stateful.ROCKSDB_PROVIDER,
    )
    try:
        # the processor's ValueState sums exact integer cents (repo
        # convention: arrival-order-invariant, unlike a double sum)
        out = stateful.running_user_stats(
            stream.withColumn(
                "cents", F.round(F.col("value") * 100).cast("long")
            )
        )
        q = (
            out.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = {
        (r["user_id"], r["n_events"], r["total_cents"])
        for r in spark.sql(
            """SELECT user_id, n_events, total_cents FROM (
                 SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
                 FROM t_tws) WHERE rn = 1"""
        ).collect()
    }
    want = {
        (r["user_id"], r["n"], r["tc"])
        for r in batch.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("tc"),
        )
        .collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_stream):
    """Stream-stream inner join (watermarks both sides + range condition)
    must produce exactly the pairs the batch interval join produces."""
    from ai_knowledge_etl_spark.streaming import events as EV

    stream, batch = events_stream
    clicks = stream.where("event_type = 'click'")
    errors = stream.where("event_type = 'error'")
    out = EV.streaming_interval_join(clicks, errors, window_s=3600)
    q = (
        out.writeStream.format("memory")
        .queryName("t_ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["err_id"], r["clk_time"])
        for r in spark.sql("SELECT err_id, clk_time FROM t_ssj").collect()
    }
    b_err = EV.with_event_time(batch.where("event_type = 'error'")).select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("u"),
        F.col("event_time").alias("et"),
    )
    b_clk = EV.with_event_time(batch.where("event_type = 'click'")).select(
        F.col("user_id").alias("cu"), F.col("event_time").alias("ct")
    )
    want = {
        (r["err_id"], r["ct"])
        for r in b_err.join(
            b_clk,
            (F.col("u") == F.col("cu"))
            & (F.col("ct") >= F.col("et"))
            & (F.col("ct") < F.col("et") + F.expr("INTERVAL 3600 seconds")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_upsert_sink_converges_to_latest_state(
    spark, sf_dir, tmp_path
):
    """foreachBatch upsert ingestion: after draining a multi-batch stream,
    the table holds exactly ONE row per user — the latest event — same as
    the batch argmax."""
    from ai_knowledge_etl_spark.sources.catalog import load_table
    from ai_knowledge_etl_spark.streaming import sink as SK

    batch = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("rev"), "value"
    )
    src = str(tmp_path / "stream_src")
    # several files -> maxFilesPerTrigger forces multiple micro-batches,
    # so the upsert path really merges across batches
    batch.repartition(6).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    table = str(tmp_path / "upsert_table")
    q = SK.start_upsert_stream(
        stream,
        table,
        key="user_id",
        rev_col="rev",
        n_buckets=4,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got = {
        r["user_id"]: (r["rev"], r["value"])
        for r in spark.read.parquet(table).collect()
    }
    from pyspark.sql import Window

    want_rows = (
        batch.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.desc("rev"))
            ),
        )
        .where("rn = 1")
        .collect()
    )
    want = {r["user_id"]: (r["rev"], r["value"]) for r in want_rows}
    assert got == want and len(got) > 1



def test_stream_static_broadcast_enrich(spark, sf_dir, events_stream):
    """Stream-static join: each micro-batch enriches against a static
    dimension (user cohort lookup, broadcast — no state store involved);
    totals must equal the batch join."""
    from ai_knowledge_etl_spark.sources.catalog import load_table

    stream, batch = events_stream
    dim = (
        batch.groupBy("user_id")
        .agg(F.min(F.expr("ts div 1000000000 div 86400")).alias("day0"))
    )
    enriched = stream.join(F.broadcast(dim), "user_id").groupBy(
        "day0"
    ).agg(F.count("*").alias("n"))
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_ss_enrich")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["day0"], r["n"])
        for r in spark.sql("SELECT * FROM t_ss_enrich").collect()
    }
    want = {
        (r["day0"], r["n"])
        for r in batch.join(dim, "user_id")
        .groupBy("day0")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_pagesource_stream_matches_batch(spark, tmp_path):
    """The crawlpages custom source read as a STREAM (availableNow, 35-page
    micro-batches) produces exactly the rows of its batch read — the
    offset/readBetweenOffsets contract drives micro-batching and the
    md5-derived rows make replay deterministic."""
    from ai_knowledge_etl_spark.sources.catalog import (
        ensure_package_on_workers,
    )
    from ai_knowledge_etl_spark.sources.pagesource import (
        CrawlPagesDataSource,
    )

    ensure_package_on_workers(spark)
    spark.dataSource.register(CrawlPagesDataSource)
    out = str(tmp_path / "pages_out")
    ckpt = str(tmp_path / "ckpt")
    # each availableNow run drains ONE prefetched micro-batch of a simple
    # stream reader; restarting against the same checkpoint resumes from
    # the committed offset — 4 runs x 35 pages covers all 140 and proves
    # offset-based exactly-once resume (no dup, no gap across restarts)
    for _ in range(4):
        q = (
            spark.readStream.format("crawlpages")
            .option("n", 140)
            .option("batch_size", 35)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    got = [tuple(r) for r in spark.read.parquet(out).collect()]
    want = {
        tuple(r)
        for r in spark.read.format("crawlpages").option("n", 140).load().collect()
    }
    assert len(got) == 140  # no duplicates across restarts
    assert set(got) == want


def test_incremental_mv_version_chain(spark, sf_dir):
    """The foreachBatch MV must advance through a contiguous batch_id
    version chain with >=2 microbatches per wave (4 files, 2-file
    triggers), and the final version must carry every user exactly once
    — the registry differential separately proves value parity."""
    import os

    from ai_knowledge_etl_spark.registry.streaming import (
        _run_incremental_mv,
    )

    final = _run_incremental_mv(spark, sf_dir)
    mv_root = os.path.dirname(final)
    versions = sorted(
        int(d[1:]) for d in os.listdir(mv_root) if d.startswith("v")
    )
    assert versions == list(range(len(versions))), versions
    assert len(versions) >= 4, versions
    mv = spark.read.parquet(final)
    assert mv.count() == mv.select("user_id").distinct().count()


def test_stream_stream_interval_join_runs_on_every_build(spark, sf_dir):
    """Each build of stream-stream-interval-join runs its own streaming
    query into its own scratch dir (a repeated query must not read an
    earlier run's sink), and release_persisted() removes those dirs."""
    import glob
    import json
    import os
    import tempfile

    from ai_knowledge_etl_spark.registry import REGISTRY
    from ai_knowledge_etl_spark.session import release_persisted

    pattern = os.path.join(tempfile.gettempdir(), "etl_ssj_*")
    qd = REGISTRY["stream-stream-interval-join"]
    dirs, query_ids, rows = [], [], []
    for _ in range(2):
        before = set(glob.glob(pattern))
        df = qd.spark(spark, sf_dir)
        new = set(glob.glob(pattern)) - before
        assert len(new) == 1, "the build did not stage a new streaming run"
        workdir = new.pop()
        ckpt = os.path.join(workdir, "ckpt")
        # a started query records its id in the checkpoint and commits
        # its first micro-batch there
        with open(os.path.join(ckpt, "metadata")) as f:
            query_ids.append(json.load(f)["id"])
        assert os.path.exists(os.path.join(ckpt, "commits", "0"))
        rows.append(sorted(map(tuple, df.collect())))
        dirs.append(workdir)
    assert query_ids[0] != query_ids[1]
    assert rows[0] and rows[0] == rows[1]
    release_persisted()
    assert not any(os.path.exists(d) for d in dirs)


@pytest.mark.parametrize("profile", ["local-jvm", "cluster"])
def test_state_store_profile_both_paths_green(
    spark, sf_dir, tmp_path, profile
):
    """The state-store decision as config, not prose (round-8 verdict #6):
    config.state_store_conf('local-jvm') keeps the on-heap HDFS provider,
    'cluster' sets RocksDB + changelog checkpointing. Both profiles must
    run the stream-stream interval join green with identical results —
    the backend changes durability/latency economics, never answers."""
    from ai_knowledge_etl_spark import config as cfg
    from ai_knowledge_etl_spark.sources.catalog import load_table
    from ai_knowledge_etl_spark.streaming import events as EV

    conf = cfg.state_store_conf(profile)
    if profile == "cluster":
        assert "RocksDBStateStoreProvider" in conf.get(
            "spark.sql.streaming.stateStore.providerClass", ""
        )
        assert (
            conf[
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            ]
            == "true"
        )
    else:
        assert conf == {}

    batch = load_table(spark, sf_dir, "events").limit(2000)
    src = str(tmp_path / "events_src")
    batch.write.mode("overwrite").parquet(src)
    ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    for k, v in conf.items():
        ss.conf.set(k, v)
    sbatch = ss.read.parquet(src)
    stream = ss.readStream.schema(sbatch.schema).parquet(src)
    out = EV.streaming_interval_join(
        stream.where("event_type = 'click'"),
        stream.where("event_type = 'error'"),
        window_s=3600,
    )
    name = f"t_profile_{profile.replace('-', '_')}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = ss.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"]
    b_err = EV.with_event_time(sbatch.where("event_type = 'error'")).select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("u"),
        F.col("event_time").alias("et"),
    )
    b_clk = EV.with_event_time(sbatch.where("event_type = 'click'")).select(
        F.col("user_id").alias("cu"), F.col("event_time").alias("ct")
    )
    want = b_err.join(
        b_clk,
        (F.col("u") == F.col("cu"))
        & (F.col("ct") >= F.col("et"))
        & (F.col("ct") < F.col("et") + F.expr("INTERVAL 3600 seconds")),
    ).count()
    assert got == want and want > 0


def test_state_store_profile_rejects_unknown():
    from ai_knowledge_etl_spark import config as cfg

    with pytest.raises(ValueError, match="unknown state-store profile"):
        cfg.state_store_conf("no-such-profile")


def test_state_store_profile_env_precedence(monkeypatch):
    """The NEW env var must outrank the legacy provider knob (r9 review:
    a stale pre-r9 SPARK_GRAFT_SSJ_STATE_PROVIDER export must not
    silently override an explicit profile), and the RocksDB class string
    has one source of truth."""
    from ai_knowledge_etl_spark import config as cfg
    from ai_knowledge_etl_spark.streaming import stateful

    monkeypatch.setenv("SPARK_GRAFT_SSJ_STATE_PROVIDER", "rocksdb")
    monkeypatch.setenv("SPARK_GRAFT_STATE_PROFILE", "local-jvm")
    assert cfg.state_store_conf() == {}  # explicit profile wins
    monkeypatch.delenv("SPARK_GRAFT_STATE_PROFILE")
    conf = cfg.state_store_conf()  # legacy knob maps to cluster
    assert "RocksDBStateStoreProvider" in conf[
        "spark.sql.streaming.stateStore.providerClass"
    ]
    assert stateful.ROCKSDB_PROVIDER is cfg.ROCKSDB_PROVIDER
