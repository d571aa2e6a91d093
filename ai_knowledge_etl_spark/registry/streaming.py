"""Event-time / iterative dataflow operators (SURVEY §2.J).

Batch twins of the streaming operators are registered with oracles (integer
second arithmetic is engine-portable); the native Structured Streaming
variants (watermark, session_window, AvailableNow) run in
tests/test_streaming.py. The crawl frontier loop is checked against a
recursive-CTE oracle — a driver loop vs WITH RECURSIVE, same fixpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_knowledge_etl_spark.registry import register
from ai_knowledge_etl_spark.session import eager_cut, scratch_dir
from ai_knowledge_etl_spark.sources import synthetic as syn
from ai_knowledge_etl_spark.sources.catalog import load_table
from ai_knowledge_etl_spark.streaming import events as EV
from ai_knowledge_etl_spark.streaming import frontier, politeness


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "stream-session-events",
    """
SELECT (epoch_ns(ts) // 1000000000 // 600) * 600 AS window_start_s,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
""".strip(),
    doc="Tumbling 10-min event-time windows (SURVEY §2.J; the streaming-"
    "native variant with watermark runs in tests/test_streaming.py).",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.tumbling_counts(_events(spark, sf_dir), 600)


_CRAWL_SEEDS = [
    "https://seed.example.com/p/0",
    "https://seed.example.com/p/1",
    "https://seed.example.com/p/2",
]

_CRAWL_ORACLE = f"""
WITH RECURSIVE gen AS (SELECT unnest([1, 2, 3]) AS i),
crawl(url, depth) AS (
    SELECT unnest({_CRAWL_SEEDS!r}) AS url, 0 AS depth
  UNION
    SELECT 'https://site' || CAST(c.h % 5 AS VARCHAR) || '.example.com/p/'
           || CAST((c.h * 7 + g.i * 13) % 400 AS VARCHAR) AS url,
           c.depth + 1 AS depth
    FROM (
      SELECT url, depth,
             list_sum(list_transform(range(1, length(url) + 1),
                      j -> ord(substring(url, j, 1)))) AS h
      FROM crawl WHERE depth < 3
    ) c CROSS JOIN gen g
    WHERE g.i <= (c.h % 3) + 1
      AND c.h % 13 <> 0 AND c.h % 11 <> 0
      AND regexp_matches(CASE CAST((c.h + g.i) % 4 AS INTEGER)
            WHEN 0 THEN 'spark tuning' WHEN 1 THEN 'shuffle internals'
            WHEN 2 THEN 'join guide' ELSE 'pricing page' END,
            '(spark|shuffle|join)')
)
SELECT url, CAST(min(depth) AS INTEGER) AS depth
FROM crawl GROUP BY url
""".strip()


@register(
    "pipeline-crawl-e2e",
    _CRAWL_ORACLE,
    doc="The reference's flagship stateful loop END-TO-END "
    "(commands/extract.md:761-831): pipeline.crawl runs 4 BFS waves "
    "through the REAL single-page pipeline — politeness-paced fetch of "
    "the offline linked fetcher, boilerplate strip, markdown link "
    "extraction, relevance scoring, threshold filter, visited anti-join, "
    "per-wave localCheckpoint. Because the linked fetcher's pages are "
    "pure arithmetic in sum(ord(url)), the ENTIRE crawl — every wave, "
    "failure, login wall, scored link, and dedup — is replayed by one "
    "recursive CTE; min-depth per url must match exactly.",
    oracle_kind="replay",  # CTE re-walks the fetcher's arithmetic trace
)
def q_pipeline_crawl_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark import pipeline as P
    from ai_knowledge_etl_spark.sources import web

    seeds = spark.createDataFrame([(u,) for u in _CRAWL_SEEDS], "url string")
    return P.crawl(
        spark, seeds, web.demo_fetcher_linked, "(spark|shuffle|join)", 3
    )


@register(
    "stream-dedup-watermark",
    """
WITH delivered AS (
  SELECT event_id, user_id, event_type FROM events
  UNION ALL
  SELECT event_id, user_id, event_type FROM events WHERE event_id % 10 = 0
)
SELECT DISTINCT event_id, user_id, event_type FROM delivered
""".strip(),
    doc="Exactly-once over at-least-once delivery: every 10th event is "
    "re-delivered, dedup on event_id recovers one row each. Batch twin of "
    "streaming/events.streaming_dedup_within_watermark "
    "(dropDuplicatesWithinWatermark — watermark-bounded dedup state; the "
    "streaming form converges to this exact result in "
    "tests/test_streaming.py). Reference analog: the at-most-once visit "
    "guarantee, scripts/crawler-queue.sh:36-41.",
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    delivered = ev.unionByName(ev.where("event_id % 10 = 0"))
    return delivered.dropDuplicates(["event_id"])


@register(
    "stream-sliding-window",
    """
WITH exploded AS (
  SELECT event_type, value,
         unnest(generate_series(0, 1)) AS off,
         epoch_ns(ts) // 1000000000 // 300 AS slot
  FROM events
)
SELECT (slot - off) * 300 AS window_start_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM exploded GROUP BY 1
""".strip(),
    doc="Sliding windows (10 min / 5 min): explode each event into the "
    "windows containing it, then hash-aggregate.",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.sliding_counts(_events(spark, sf_dir), 600, 300)


@register(
    "stream-session-window",
    """
WITH secs AS (
  SELECT user_id, event_id, value, epoch_ns(ts) // 1000000000 AS sec FROM events
),
flagged AS (
  SELECT *, CASE WHEN sec - lag(sec) OVER
                  (PARTITION BY user_id ORDER BY sec ASC, event_id ASC) > 1800
                 THEN 1 ELSE 0 END AS new_session
  FROM secs
),
sess AS (
  SELECT *, CAST(sum(new_session) OVER
                  (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
            AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       CAST(min(sec) AS BIGINT) AS session_start_s,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, session_id
""".strip(),
    doc="Gap-based sessionization (30-min gap) via lag + running conditional "
    "sum — the batch twin of session_window (SURVEY §2.J).",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.session_windows(_events(spark, sf_dir), 1800)


_BFS_ORACLE = """
WITH RECURSIVE
edges AS (
  SELECT doc_id % 50 AS src, doc_id AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, (doc_id * 7 + 13) % (SELECT count(*) FROM documents) AS dst
  FROM documents
),
bfs(doc_id, depth) AS (
  SELECT doc_id, 0 AS depth FROM documents WHERE doc_id < 3
  UNION
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.doc_id
  WHERE b.depth < 3
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(min(depth) AS INTEGER) AS depth
FROM bfs GROUP BY doc_id
""".strip()


def _bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = docs.count()  # corpus size — same scalar the oracle's subquery computes
    edges = docs.select(
        F.expr("doc_id % 50").alias("src"), F.col("doc_id").alias("dst")
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"),
            F.expr(f"(doc_id * 7 + 13) % {n}").alias("dst"),
        )
    )
    seeds = docs.where("doc_id < 3").select("doc_id")
    return frontier.bfs_frontier(edges, seeds, max_depth=3)


@register(
    "stream-crawl-frontier",
    _BFS_ORACLE,
    doc="Stateful crawl frontier: batch-iterative min-depth BFS over the "
    "parent-link graph from 3 seed pages, depth ≤ 3 (reference: "
    "commands/extract.md:761-831). Oracle: the equivalent WITH RECURSIVE "
    "fixpoint — a driver loop and a recursive CTE must agree exactly.",
)
def q_stream_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bfs(spark, sf_dir)


@register(
    "stream-stop-conditions",
    _BFS_ORACLE + "\nORDER BY depth ASC, doc_id ASC\nLIMIT 20",
    doc="Stop conditions: page budget cap over the crawl expansion order "
    "(reference: commands/extract.md:770 — queue empty ∨ processed ≥ "
    "max_pages; budget enforced on accumulated visited count).",
)
def q_stream_stop_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bfs(spark, sf_dir).orderBy(F.asc("depth"), F.asc("doc_id")).limit(20)


@register(
    "stream-visited-state",
    f"""
WITH RECURSIVE
edges AS (
  SELECT doc_id % 50 AS src, doc_id AS dst FROM documents
  UNION ALL
  SELECT doc_id AS src, (doc_id * 7 + 13) % (SELECT count(*) FROM documents) AS dst
  FROM documents
),
bfs(doc_id, depth) AS (
  SELECT doc_id, 0 AS depth FROM documents WHERE doc_id < 3
  UNION
  SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.doc_id
  WHERE b.depth < 3
),
mind AS (SELECT doc_id, CAST(min(depth) AS INTEGER) AS depth FROM bfs GROUP BY doc_id),
per_wave AS (SELECT depth, CAST(count(*) AS BIGINT) AS n_new FROM mind GROUP BY depth)
SELECT depth, n_new,
       CAST(sum(n_new) OVER (ORDER BY depth ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS visited_total
FROM per_wave
""".strip(),
    doc="Monotone visited-set growth per crawl wave "
    "(reference: scripts/crawler-queue.sh:115-176).",
)
def q_stream_visited_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_wave = _bfs(spark, sf_dir).groupBy("depth").agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy(F.asc("depth")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_wave.select(
        "depth",
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("visited_total"),
    )


@register(
    "stream-rate-limit",
    f"""
WITH {syn.LINKS_CTE},
urls AS (
  SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS domain, url FROM links
)
SELECT domain, url,
       CAST(row_number() OVER (PARTITION BY domain ORDER BY url ASC) AS INTEGER) AS rn,
       (CAST(row_number() OVER (PARTITION BY domain ORDER BY url ASC) AS INTEGER) - 1)
         * 2.0 AS send_offset_s
FROM urls
""".strip(),
    doc="Politeness pacing plan: per-domain request position × 2 s interval "
    "(reference: config/limits.yaml:105). Executor-side token-bucket "
    "enforcement lives in streaming/politeness.rate_limited_fetch.",
)
def q_stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.functions import urls as U

    links = syn.with_links_columns(_docs(spark, sf_dir))
    urls_df = links.select(U.domain("url").alias("domain"), "url")
    return politeness.pacing_schedule(urls_df, "domain", "url", 2.0)


@register(
    "stream-trending-topk",
    """
WITH exploded AS (
  SELECT event_type,
         unnest(generate_series(0, 1)) AS off,
         epoch_ns(ts) // 1000000000 // 1800 AS slot
  FROM events
),
counted AS (
  SELECT (slot - off) * 1800 AS window_start_s, event_type,
         CAST(count(*) AS BIGINT) AS n
  FROM exploded GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
              PARTITION BY window_start_s
              ORDER BY n DESC, event_type ASC) AS rnk
  FROM counted
)
SELECT window_start_s, CAST(rnk AS INTEGER) AS rnk, event_type, n
FROM ranked WHERE rnk <= 2
""".strip(),
    doc="Trending top-k: sliding 1h/30min windows, top-2 event types per "
    "window (count DESC, type ASC tiebreak) — the dashboard 'what is hot "
    "right now' pattern. Batch twin of the streaming form (readStream + "
    "window() + foreachBatch rank); each event explodes into exactly 2 "
    "overlapping windows, one hash-agg on (window, type), then a window "
    "rank partitioned BY window start — the agg and the rank share the "
    "window_start partitioning, and cardinality after the agg is "
    "windows x types, independent of event volume.",
)
def q_stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    exploded = ev.select(
        "event_type",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("off"),
        F.expr("ts div 1000000000 div 1800").alias("slot"),
    )
    counted = exploded.groupBy(
        ((F.col("slot") - F.col("off")) * 1800).alias("window_start_s"),
        "event_type",
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("window_start_s").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counted.select(
            "window_start_s",
            F.row_number().over(w).cast("int").alias("rnk"),
            "event_type",
            "n",
        )
        .where(F.col("rnk") <= 2)
    )


@register(
    "agg-session-paths",
    """
WITH secs AS (
  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000000000 AS sec
  FROM events
),
flagged AS (
  SELECT *, CASE WHEN sec - lag(sec) OVER
                  (PARTITION BY user_id ORDER BY sec ASC, event_id ASC) > 1800
                 THEN 1 ELSE 0 END AS new_session
  FROM secs
),
sess AS (
  SELECT *, CAST(sum(new_session) OVER
                  (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
            AS session_id
  FROM flagged
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY sec ASC, event_id ASC) AS path
  FROM sess GROUP BY user_id, session_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 20
""".strip(),
    doc="Session-path mining (customer-journey analytics): gap-based "
    "sessionization (30 min), then each session's ordered event-type "
    "sequence as a '>'-joined path, then the 20 most common paths. "
    "Determinism without ordered string_agg (Spark collect_list order "
    "follows shuffle order): collect structs (sec, event_id, type), "
    "array_sort on the unique (sec, event_id) prefix, then transform+ "
    "array_join — sort-by-value inside the row, immune to partitioning. "
    "Scale: the sessionize window, the path agg, and nothing else touch "
    "per-user data (one user_id partitioning end to end); the path "
    "popularity agg reduces to distinct paths, and top-20 is "
    "TakeOrderedAndProject (no global sort).",
)
def q_agg_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    secs = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.expr("ts div 1000000000").alias("sec"),
    )
    wo = Window.partitionBy("user_id").orderBy(
        F.col("sec").asc(), F.col("event_id").asc()
    )
    flagged = secs.withColumn(
        "new_session",
        F.when(
            F.col("sec") - F.lag("sec").over(wo) > 1800, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"),
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sec", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(20)
    )


# --- streaming WARC ingestion ----------------------------------------------------


def _run_warc_ingest(spark: SparkSession, sf_dir: str) -> str:
    """Stage the packed WARC blobs in two waves — the second wave
    RE-DELIVERS half of wave one under new filenames (the at-least-once
    case file-checkpointing cannot dedup) — and run two availableNow
    passes of streaming/ingest.warc_ingest_availablenow against one
    checkpoint. Returns the corpus-table path."""
    from ai_knowledge_etl_spark.registry.sources_sinks import warc_pack_files
    from ai_knowledge_etl_spark.streaming import ingest

    workdir = scratch_dir("etl_warc_ingest_")
    staging = os.path.join(workdir, "staging")
    table = os.path.join(workdir, "corpus")
    ckpt = os.path.join(workdir, "ckpt")

    docs = syn.uni_docs(_docs(spark, sf_dir))
    files = eager_cut(warc_pack_files(docs, syn.url_col()))

    files.where("file_id % 2 = 0").write.mode("append").parquet(staging)
    ingest.warc_ingest_availablenow(spark, staging, table, ckpt)
    # wave 2: the odd files plus a replay of half of wave 1's blobs
    files.where("file_id % 2 = 1").unionByName(
        files.where("file_id % 4 = 0")
    ).write.mode("append").parquet(staging)
    ingest.warc_ingest_availablenow(spark, staging, table, ckpt)
    return table


@register(
    "stream-warc-ingest",
    f"""
WITH {syn.UNI_DOCS_CTE}
SELECT {syn.URL_EXPR} AS uri,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS fp
FROM udocs WHERE doc_id % 13 <> 0
""".strip(),
    doc="Streaming WARC ingestion end-to-end (streaming/ingest.py): "
    "staged WARC blobs arrive in two waves as a parquet file stream; "
    "each availableNow micro-batch parses records (Arrow-batched "
    "scan_warc_text, forward-resync past the every-13th corrupted "
    "record) and MERGEs them into a uri-keyed corpus table via the "
    "bucket-pruned incremental upsert. Wave two re-delivers half of "
    "wave one's blobs under NEW filenames — the at-least-once case the "
    "file checkpoint cannot dedup — and the content-level MERGE "
    "converges anyway. The oracle is the batch truth: exactly one row "
    "per surviving record, regenerated arithmetically; any dropped "
    "record, duplicate row, or corruption leak breaks the hash.",
)
def q_stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    table_path = _run_warc_ingest(spark, sf_dir)
    # explicit schema: an empty corpus leaves a table dir with no part
    # files, which schema inference rejects (empty-input census)
    table = spark.read.schema(
        "uri string, text string, rev long, __bucket int"
    ).parquet(table_path)
    return table.select(
        "uri",
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("fp"),
    )


# --- streaming count-min accumulation --------------------------------------------


def _run_cms_stream(spark: SparkSession, sf_dir: str) -> str:
    """Stage events in three waves (event_id mod 3) and run one
    availableNow pass of streaming/ingest.cms_grid_availablenow after
    each wave against a single checkpoint — three epochs, three
    epoch-keyed grid directories. Returns the grid root."""
    from ai_knowledge_etl_spark.streaming import ingest

    workdir = scratch_dir("etl_cms_stream_")
    staging = os.path.join(workdir, "staging")
    grids = os.path.join(workdir, "grids")
    ckpt = os.path.join(workdir, "ckpt")

    ev = _events(spark, sf_dir).select("event_id", "user_id")
    for wave in range(3):
        ev.where(f"event_id % 3 = {wave}").write.mode("append").parquet(
            staging
        )
        ingest.cms_grid_availablenow(spark, staging, grids, ckpt)
    return grids


def _cms_stream_oracle() -> str:
    from ai_knowledge_etl_spark.operators import sketches as SK

    probes = "\nUNION ALL\n".join(
        f"SELECT CAST({d} AS INTEGER) AS d, "
        f"CAST({SK.duck_cms_bucket('key', d, 1024)} AS BIGINT) AS bucket, "
        "cnt FROM keyed"
        for d in range(4)
    )
    return f"""
WITH keyed AS (
  SELECT CAST(user_id AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
probes AS ({probes})
SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS total
FROM probes GROUP BY d, bucket
ORDER BY d, bucket
""".strip()


@register(
    "stream-cms-merge",
    _cms_stream_oracle(),
    doc="Streaming count-min accumulation: events arrive in three waves "
    "as a parquet file stream; each availableNow micro-batch builds its "
    "own 4x1024 grid (two hash aggregates) and publishes it under an "
    "epoch-keyed directory — overwrite-by-epoch, because ADDITIVE "
    "sketches double-count under at-least-once replay, so the epoch "
    "grid is the idempotence unit (streaming/ingest.py). The query "
    "sums the published epoch grids cell-wise; the oracle is the "
    "one-shot batch grid over ALL events — streaming accumulation and "
    "batch construction must agree cell-for-cell, which is exactly the "
    "mergeability contract that lets day-grain grids answer any-window "
    "frequency questions at 100 TB without rescanning raw events.",
)
def q_stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid_root = _run_cms_stream(spark, sf_dir)
    parts = (
        spark.read.schema("d int, bucket long, total long")
        .option("recursiveFileLookup", "true")
        .parquet(grid_root)
    )
    return (
        parts.groupBy("d", "bucket")
        .agg(F.sum("total").cast("long").alias("total"))
        .orderBy("d", "bucket")
    )


def _stream_join_session(spark: SparkSession, ev: DataFrame) -> SparkSession:
    """CLONED session sized for a stream-stream join: the join materializes
    4 state stores per shuffle partition, and local-mode state-store init
    dominates wall clock when partitions far exceed the data (32 partitions
    ~38 s vs ~8 s at 4 on the fixture) — while UNDER-partitioning caps
    parallelism once the stream is big (the 100x sweep measured 571 s at 4
    partitions vs minutes less at 32). So size state partitions to stream
    volume — the exact knob a production job sizes to key cardinality; the
    checkpoint then pins it for the query's lifetime. newSession() shares
    the SparkContext but owns its conf, so this is invisible to concurrent
    bench threads."""
    n = ev.count()  # parquet count-star: metadata-only, no scan
    ss = spark.newSession()
    ss.conf.set(
        "spark.sql.shuffle.partitions", "4" if n < 1_000_000 else "32"
    )
    # State-store backend: the documented PROFILE knob
    # (config.state_store_conf, round-8 verdict #6) replaces the ad-hoc
    # provider env var. Measured history (tools/bench_ssj_state.py,
    # docs/PERF.md): under r7's replica-key fixture RocksDB + changelog
    # read 3.8-4.6x slower (inner 65 -> 248 s) — but the r8 re-run on
    # honest DISTINCT keys showed RocksDB winning the inner join (17.1
    # vs 19.9 s) and losing only the outer flush, so the local-JVM
    # default is a deployment call, not a universal one. Profile
    # "local-jvm" (default here) keeps the HDFS provider's on-heap maps;
    # "cluster" (the production default posture, SCALE.md) sets RocksDB
    # + changelog checkpointing. Same code path either way — the
    # interval-join tests pin BOTH profiles green.
    from ai_knowledge_etl_spark import config as cfg

    for k, v in cfg.state_store_conf().items():
        ss.conf.set(k, v)
    return ss


# --- stream-stream interval join --------------------------------------------------

_SSJ_WINDOW_S = 3600


def _run_stream_interval_join(spark: SparkSession, sf_dir: str) -> str:
    """Stage clicks and errors as two parquet file streams, run the real
    Structured Streaming stream-stream inner join
    (streaming/events.streaming_interval_join: watermarks on BOTH sides +
    range condition so buffered state is evictable) in one availableNow
    pass, append the joined pairs to a parquet sink. Returns the sink path."""
    workdir = scratch_dir("etl_ssj_")
    stage_c = os.path.join(workdir, "clicks")
    stage_e = os.path.join(workdir, "errors")
    out = os.path.join(workdir, "pairs")
    ckpt = os.path.join(workdir, "ckpt")

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    ev.where("event_type = 'click'").write.parquet(stage_c)
    ev.where("event_type = 'error'").write.parquet(stage_e)

    ss = _stream_join_session(spark, ev)
    schema = "event_id long, user_id long, ts long, event_type string"
    clicks = ss.readStream.schema(schema).parquet(stage_c)
    errors = ss.readStream.schema(schema).parquet(stage_e)
    pairs = EV.streaming_interval_join(clicks, errors, window_s=_SSJ_WINDOW_S)
    q = (
        pairs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return out


@register(
    "stream-stream-interval-join",
    f"""
WITH err AS (
  SELECT event_id AS err_id, user_id, epoch_ns(ts) // 1000000000 AS es
  FROM events WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS cs
  FROM events WHERE event_type = 'click'
)
SELECT e.err_id, e.user_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(c.cs - e.es) AS BIGINT) AS sum_lag_s
FROM err e JOIN clk c
  ON e.user_id = c.user_id AND c.cs >= e.es AND c.cs < e.es + {_SSJ_WINDOW_S}
GROUP BY e.err_id, e.user_id
""".strip(),
    doc="NATIVE stream-stream inner join (SURVEY §2.J): clicks and errors "
    "arrive as two separate parquet file streams; the join runs inside "
    "Structured Streaming with watermarks on BOTH sides plus the range "
    f"condition clk in [err, err+{_SSJ_WINDOW_S}s), which is what lets the engine "
    "evict buffered rows older than watermark+window instead of holding "
    "both streams forever — the property that makes this run "
    "indefinitely on an unbounded 100 TB/day event feed. Joined pairs "
    "append to a parquet sink in one availableNow pass on every call; "
    "the registered result aggregates the SINK's contents "
    "(clicks per error + total lag), so any dropped, duplicated, or "
    "spurious pair breaks the hash against the batch-truth oracle. The "
    "batch rewrite of the same shape is join-range-window; the pair-"
    "level equivalence test is tests/test_streaming.py::"
    "test_stream_stream_interval_join_matches_batch.",
)
def q_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink_path = _run_stream_interval_join(spark, sf_dir)
    pairs = spark.read.schema(
        "err_id long, err_user long, err_time timestamp, clk_time timestamp"
    ).parquet(sink_path)
    return pairs.groupBy(
        "err_id", F.col("err_user").alias("user_id")
    ).agg(
        F.count("*").cast("long").alias("n_clicks"),
        F.sum(
            F.unix_timestamp("clk_time") - F.unix_timestamp("err_time")
        ).cast("long").alias("sum_lag_s"),
    )


# --- stream-stream OUTER join: watermark-gated null-extension ---------------------


def _run_stream_outer_join(spark: SparkSession, sf_dir: str) -> str:
    """Three availableNow passes against one checkpoint: (1) all real
    clicks/errors, (2) far-future sentinel rows on BOTH streams that push
    the joint watermark past every error's eviction boundary, (3) a second
    sentinel wave in case the engine emits evicted outer rows one batch
    after the watermark crossing. Unmatched errors can only null-extend
    once the watermark proves no future click can match — the semantics
    this query pins down. Returns the sink path."""
    from pyspark.sql import Row

    workdir = scratch_dir("etl_ssoj_")
    stage_c = os.path.join(workdir, "clicks")
    stage_e = os.path.join(workdir, "errors")
    out = os.path.join(workdir, "pairs")
    ckpt = os.path.join(workdir, "ckpt")

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "event_type")
    clicks_b = ev.where("event_type = 'click'")
    errors_b = ev.where("event_type = 'error'")
    # driver-side scalar: the sentinel must outrun every real event
    # (empty stream: any epoch works — there is nothing to flush)
    max_ts = ev.agg(F.max("ts")).collect()[0][0] or 0

    ss = _stream_join_session(spark, ev)
    schema = "event_id long, user_id long, ts long, event_type string"

    def sentinel(eid: int, uid: int, bump_s: int):
        return spark.createDataFrame(
            [Row(event_id=eid, user_id=uid,
                 ts=max_ts + bump_s * 1_000_000_000, event_type="sentinel")],
            schema,
        )

    clicks_b.write.mode("append").parquet(stage_c)
    errors_b.write.mode("append").parquet(stage_e)

    clicks = ss.readStream.schema(schema).parquet(stage_c)
    errors = ss.readStream.schema(schema).parquet(stage_e)
    e = (
        EV.with_event_time(errors)
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("event_time").alias("err_time"),
        )
    )
    c = (
        EV.with_event_time(clicks)
        .withWatermark("event_time", "0 seconds")
        .select(
            F.col("user_id").alias("clk_user"),
            F.col("event_time").alias("clk_time"),
        )
    )
    joined = e.join(
        c,
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_time") >= F.col("err_time"))
        & (F.col("clk_time") < F.col("err_time") + F.expr("INTERVAL 3600 seconds")),
        "leftOuter",
    ).select("err_id", "err_user", "err_time", "clk_time")

    def one_pass() -> None:
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    one_pass()
    # sentinel waves: user_ids are negative, so they match nothing; they
    # exist purely to advance BOTH sides' watermarks (the join watermark
    # is the min of the two)
    sentinel(-1, -1, 7200).write.mode("append").parquet(stage_c)
    sentinel(-2, -2, 7200).write.mode("append").parquet(stage_e)
    one_pass()
    sentinel(-3, -1, 14400).write.mode("append").parquet(stage_c)
    sentinel(-4, -2, 14400).write.mode("append").parquet(stage_e)
    one_pass()
    return out


@register(
    "stream-outer-join-flush",
    """
WITH err AS (
  SELECT event_id AS err_id, user_id, epoch_ns(ts) // 1000000000 AS es
  FROM events WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, epoch_ns(ts) // 1000000000 AS cs
  FROM events WHERE event_type = 'click'
)
SELECT e.err_id, e.user_id,
       CAST(count(c.cs) AS BIGINT) AS n_clicks,
       CAST(coalesce(sum(c.cs - e.es), 0) AS BIGINT) AS sum_lag_s
FROM err e LEFT JOIN clk c
  ON e.user_id = c.user_id AND c.cs >= e.es AND c.cs < e.es + 3600
GROUP BY e.err_id, e.user_id
""".strip(),
    doc="Stream-stream LEFT OUTER join (SURVEY §2.J, the hard half of "
    "streaming joins): an unmatched error may only null-extend once the "
    "watermark PROVES no click can still arrive inside its 3600 s "
    "window — emitting earlier would be wrong, never emitting would "
    "lose rows. Sentinel rows on BOTH streams (negative user_ids, "
    "matching nothing) advance the joint watermark past every eviction "
    "boundary across three availableNow passes against one checkpoint, "
    "so the sink provably converges to the batch LEFT JOIN truth — "
    "matched errors with their click counts AND unmatched errors with "
    "n_clicks=0, which the inner-join twin (stream-stream-interval-join) "
    "structurally cannot produce. This is the idle-key flush problem "
    "every production streaming pipeline hits; the batch oracle checks "
    "both the emission and the non-duplication side.",
)
def q_stream_outer_join_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    sink_path = _run_stream_outer_join(spark, sf_dir)
    pairs = spark.read.schema(
        "err_id long, err_user long, err_time timestamp, clk_time timestamp"
    ).parquet(sink_path)
    return (
        pairs.where(F.col("err_user") >= 0)
        .groupBy("err_id", F.col("err_user").alias("user_id"))
        .agg(
            F.count("clk_time").cast("long").alias("n_clicks"),
            F.coalesce(
                F.sum(
                    F.unix_timestamp("clk_time") - F.unix_timestamp("err_time")
                ),
                F.lit(0),
            ).cast("long").alias("sum_lag_s"),
        )
    )


# --- custom stateful operator: cross-restart sessionization ------------------------

_SESS_GAP_S = 1800


def _run_stateful_sessionize(spark: SparkSession, sf_dir: str) -> str:
    """Two availableNow passes of a CUSTOM applyInPandasWithState operator
    against one checkpoint: gap-sessionization whose per-user state
    (last event time, session count, event count) must SURVIVE the stream
    restart between waves — the property that distinguishes real stateful
    processing from per-batch aggregation. Waves split by a global time
    threshold so each user's events arrive in order across batches.
    Returns the update-log path."""
    import pandas as pd

    workdir = scratch_dir("etl_sess_state_")
    staging = os.path.join(workdir, "staging")
    out = os.path.join(workdir, "updates")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(staging)  # readStream resolves the path at plan time

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.expr("ts div 1000000000").alias("sec")
    )
    lo, hi = ev.agg(F.min("sec"), F.max("sec")).collect()[0]
    mid = ((lo or 0) + (hi or 0)) // 2

    ss = _stream_join_session(spark, ev)
    schema = "event_id long, user_id long, sec long"
    stream = ss.readStream.schema(schema).parquet(staging)

    def sess_fn(key, pdf_iter, state):
        last, n_sess, n_ev = (
            state.get if state.exists else (None, 0, 0)
        )
        rows = pd.concat(list(pdf_iter))
        rows = rows.sort_values(["sec", "event_id"])
        for s in rows["sec"]:
            s = int(s)
            if last is None or s - last > _SESS_GAP_S:
                n_sess += 1
            last = s
            n_ev += 1
        state.update((last, n_sess, n_ev))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sess],
                "n_events": [n_ev],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    updates = stream.groupBy("user_id").applyInPandasWithState(
        sess_fn,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="last_sec long, n_sessions long, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def one_pass() -> None:
        def sink(batch: DataFrame, epoch_id: int) -> None:
            batch.write.mode("append").parquet(out)

        q = (
            updates.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.where(F.col("sec") < mid).write.mode("append").parquet(staging)
    one_pass()
    ev.where(F.col("sec") >= mid).write.mode("append").parquet(staging)
    one_pass()
    return out


@register(
    "stream-stateful-sessionize",
    f"""
WITH secs AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec FROM events
),
flagged AS (
  SELECT user_id,
         CASE WHEN sec - lag(sec) OVER (
                PARTITION BY user_id ORDER BY sec ASC, event_id ASC)
              > {_SESS_GAP_S} THEN 1 ELSE 0 END AS new_s
  FROM secs
)
SELECT user_id, CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM flagged GROUP BY user_id
""".strip(),
    doc="CUSTOM stateful streaming operator (SURVEY §2.J, the "
    "applyInPandasWithState surface — the stable sibling of "
    "transformWithState, whose proto gencode this env cannot load): "
    "per-user gap sessionization where the state tuple (last event "
    "time, session count, event count) must SURVIVE a stream restart — "
    "events arrive in two time-split waves, each its own availableNow "
    "run against one checkpoint, and wave 2's first event must compare "
    "against wave 1's last timestamp restored from the state store. "
    "Update-mode emissions append to a log; the registered result takes "
    "each user's final (monotone) counters and must equal the batch "
    "lag-window sessionization — any state loss between restarts "
    "undercounts events, any state corruption miscounts sessions. "
    "State partitions are sized to stream volume.",
)
def q_stream_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    log_path = _run_stateful_sessionize(spark, sf_dir)
    log = spark.read.schema(
        "user_id long, n_sessions long, n_events long"
    ).parquet(log_path)
    return log.groupBy("user_id").agg(
        F.max("n_sessions").cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("n_events"),
    )


# --- transformWithState: typed ValueState running stats ---------------------------


def _run_user_stats_tws(spark: SparkSession, sf_dir: str) -> str:
    """Two availableNow passes of streaming/stateful.UserStatsProcessor
    (transformWithStateInPandas, Spark 4.x StatefulProcessor API) against
    one checkpoint on the RocksDB provider: per-user (count, value-sum)
    in a typed ValueState that must SURVIVE the stream restart between
    the two time-split waves. Returns the update-log path."""
    from ai_knowledge_etl_spark.streaming import stateful

    if not stateful.HAS_TWS:  # pragma: no cover - no protobuf anywhere
        raise RuntimeError(
            "transformWithState needs google.protobuf>=5.27 "
            "(compat.ensure_protobuf found none)"
        )
    stateful.prepare_session(spark)

    workdir = scratch_dir("etl_tws_stats_")
    staging = os.path.join(workdir, "staging")
    out = os.path.join(workdir, "updates")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(staging)

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        # exact integer cents BEFORE the stream: the processor's state is
        # an associative BIGINT sum, so the result cannot drift with
        # arrival order the way a double accumulator can (repo convention,
        # same as stream-incremental-mv)
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.expr("ts div 1000000000").alias("sec"),
    )
    lo, hi = ev.agg(F.min("sec"), F.max("sec")).collect()[0]
    mid = ((lo or 0) + (hi or 0)) // 2

    ss = _stream_join_session(spark, ev)
    ss.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        stateful.ROCKSDB_PROVIDER,
    )
    schema = "event_id long, user_id long, cents long, sec long"
    stream = ss.readStream.schema(schema).parquet(staging)
    updates = stateful.running_user_stats(stream)

    def one_pass() -> None:
        def sink(batch: DataFrame, epoch_id: int) -> None:
            batch.write.mode("append").parquet(out)

        q = (
            updates.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ev.where(F.col("sec") < mid).write.mode("append").parquet(staging)
    one_pass()
    ev.where(F.col("sec") >= mid).write.mode("append").parquet(staging)
    one_pass()
    return out


@register(
    "stream-user-stats-tws",
    """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id
""".strip(),
    doc="transformWithStateInPandas (SURVEY §2.J — the Spark 4.x "
    "StatefulProcessor API, successor to applyInPandasWithState): "
    "per-user running (count, EXACT-integer-cents sum) in a TYPED "
    "ValueState on the RocksDB state store — integer accumulation "
    "makes the state arrival-order-invariant, where a double sum's "
    "2-decimal rounding could flip near .005 boundaries (repo "
    "convention, as stream-incremental-mv) — state sharded across "
    "executors — per-executor state is O(active keys / executors), "
    "independent of stream length. Events arrive in two time-split "
    "waves, each its own availableNow run against one checkpoint, so "
    "wave 2 must restore wave 1's counters from RocksDB: state loss "
    "undercounts, corruption missums, and either breaks the hash "
    "against the plain batch groupBy oracle. The container's missing-"
    "protobuf blocker is resolved by compat.ensure_protobuf + "
    "stateful.prepare_session (on-disk pure-Python protobuf 6.32, "
    "PYTHONPATH routed to the TWS pre-init runner via "
    "sc.environment, which py-files do NOT reach). Update-mode "
    "emissions append to a log; the registered result takes each "
    "user's final monotone counters.",
)
def q_stream_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    log_path = _run_user_stats_tws(spark, sf_dir)
    log = spark.read.schema(
        "user_id long, n_events long, total_cents long"
    ).parquet(log_path)
    return log.groupBy("user_id").agg(
        F.max("n_events").cast("long").alias("n_events"),
        F.max(F.struct("n_events", "total_cents"))
        .getField("total_cents")
        .cast("long")
        .alias("total_cents"),
    )


# --- streaming incremental MV: foreachBatch + versioned idempotent merge ----------


def _user_stats_partials(batch_df: DataFrame) -> DataFrame:
    """Per-user (count, cents-sum) partials of ONE microbatch — the
    associative partial frame apply_mv_batch merges into the MV chain."""
    return batch_df.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


def _run_incremental_mv(spark: SparkSession, sf_dir: str) -> str:
    """Maintain a per-user (count, cents-sum) materialized aggregate from
    a file stream via foreachBatch: each microbatch aggregates ONLY its
    own rows and merges those partials with the previous MV version
    through incremental.merge_agg_partials — never rescanning history.

    Exactly-once without a transactional sink: version directories are
    keyed by batch_id (read v{batch_id-1}, write v{batch_id}), so a
    replayed batch overwrites its own version idempotently — the
    standard foreachBatch idempotent-write recipe. Two availableNow
    waves against one checkpoint prove the MV also survives a stream
    restart (wave 2's first batch must read wave 1's last version).
    Returns the final MV directory."""
    from ai_knowledge_etl_spark.operators import incremental

    workdir = scratch_dir("etl_inc_mv_")
    staging = os.path.join(workdir, "staging")
    ckpt = os.path.join(workdir, "ckpt")
    mv_root = os.path.join(workdir, "mv")
    os.makedirs(staging)
    os.makedirs(mv_root)

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def latest_version() -> int:
        vs = [
            int(d[1:])
            for d in os.listdir(mv_root)
            if d.startswith("v") and d[1:].isdigit()
        ]
        return max(vs) if vs else -1

    def apply_batch(batch_df, batch_id: int) -> None:
        # delegated to the operator so replay idempotence (same batch_id
        # applied twice) is provable in isolation — tests/test_fault_
        # tolerance.py drives apply_mv_batch directly with a duplicate id
        incremental.apply_mv_batch(
            mv_root,
            batch_df,
            batch_id,
            ["user_id"],
            ["n_events", "total_cents"],
            _user_stats_partials,
        )

    schema = "event_id long, user_id long, cents long"
    for wave_pred in ("event_id % 2 = 0", "event_id % 2 = 1"):
        # 4 files per wave + 2-file triggers -> >=2 microbatches per wave,
        # so the version chain (and its restart hand-off) really exercises
        # multi-step merging, not one batch per wave
        ev.where(wave_pred).repartition(4).write.mode("append").parquet(
            staging
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "2")
            .parquet(staging)
        )
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if latest_version() < 0:
        # zero-row source: no file ever reached the stream, so no batch
        # ran — publish an empty v0 with the MV schema (empty partitions
        # are routine; the MV must still exist and be readable)
        ev.limit(0).groupBy("user_id").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
        ).write.mode("overwrite").parquet(os.path.join(mv_root, "v0"))
    return os.path.join(mv_root, f"v{latest_version()}")


@register(
    "stream-incremental-mv",
    """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id
""".strip(),
    doc="Streaming incremental view maintenance: a parquet file stream "
    "of events maintains a per-user count/cents-sum MV through "
    "foreachBatch — each microbatch merges ITS OWN partial aggregate "
    "with the previous MV version (operators/incremental."
    "merge_agg_partials), cost |batch|+|groups| per trigger, history "
    "never rescanned. Versioned directories keyed by batch_id give "
    "idempotent exactly-once writes (a replayed batch reads only "
    "versions below itself and overwrites its own), and two "
    "availableNow waves against one checkpoint prove restart safety. "
    "The oracle is the plain batch groupBy truth — any double-count "
    "under replay, state loss across the restart, or merge error "
    "breaks the hash. The batch twin is agg-incremental-refresh.",
)
def q_stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv_path = _run_incremental_mv(spark, sf_dir)
    return spark.read.parquet(mv_path).select(
        "user_id", "n_events", "total_cents"
    )


# --- stateful timers: sessions emitted on event-time TIMEOUT ----------------------


def _run_stateful_timeout(spark: SparkSession, sf_dir: str) -> str:
    """Gap sessions emitted ONLY when their event-time TIMER fires: the
    state holds the open session; in-batch gaps close sessions from the
    data callback, the final open session per user closes from the
    hasTimedOut callback once the watermark passes last_event + gap.
    Sentinel waves (negative user) push the watermark past every open
    timer, so the emission set provably converges to the batch session
    census. Three-plus-one availableNow passes, one checkpoint."""
    import pandas as pd

    workdir = scratch_dir("etl_sess_timeout_")
    staging = os.path.join(workdir, "staging")
    out = os.path.join(workdir, "sessions")
    ckpt = os.path.join(workdir, "ckpt")
    os.makedirs(staging)

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", F.expr("ts div 1000000000").alias("sec")
    )
    row = ev.agg(F.min("sec"), F.max("sec")).collect()[0]
    lo, hi = row[0] or 0, row[1] or 0
    mid = (lo + hi) // 2

    ss = _stream_join_session(spark, ev)
    stream = (
        ss.readStream.schema("event_id long, user_id long, sec long")
        .parquet(staging)
        .withColumn("event_time", F.timestamp_seconds(F.col("sec")))
        .withWatermark("event_time", "0 seconds")
    )

    gap = _SESS_GAP_S

    def sess_fn(key, pdf_iter, state):
        if state.hasTimedOut:
            start, n, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_s": [start],
                    "n_events": [n],
                }
            )
            return
        start, n, last = state.get if state.exists else (None, 0, None)
        done_starts, done_counts = [], []
        rows = pd.concat(list(pdf_iter)).sort_values(["sec", "event_id"])
        for s in rows["sec"]:
            s = int(s)
            if start is None:
                start, n, last = s, 1, s
            elif s - last > gap:
                done_starts.append(start)
                done_counts.append(n)
                start, n, last = s, 1, s
            else:
                n += 1
                last = s
        state.update((start, n, last))
        # last_sec rides in the state tuple — reconstructing it from
        # oldTimeoutTimestamp breaks whenever the watermark clamp below
        # picked the watermark arm (3 split sessions at sf0.1)
        # the timer may not sit at/behind the watermark: this batch's
        # data can be older than the already-advanced global watermark
        fire_ms = max(
            (last + gap) * 1000 + 1000, state.getCurrentWatermarkMs() + 1000
        )
        state.setTimeoutTimestamp(fire_ms)
        if done_starts:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(done_starts),
                    "session_start_s": done_starts,
                    "n_events": done_counts,
                }
            )

    from pyspark.sql.streaming.state import GroupStateTimeout

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        sess_fn,
        outputStructType="user_id long, session_start_s long, n_events long",
        stateStructType="start_sec long, n long, last_sec long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

    def one_pass() -> None:
        def sink(batch: DataFrame, epoch_id: int) -> None:
            batch.write.mode("append").parquet(out)

        q = (
            sessions.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def sentinel(eid: int, bump: int) -> DataFrame:
        return spark.createDataFrame(
            [(eid, -1, hi + bump)], "event_id long, user_id long, sec long"
        )

    ev.where(F.col("sec") < mid).write.mode("append").parquet(staging)
    one_pass()
    ev.where(F.col("sec") >= mid).write.mode("append").parquet(staging)
    one_pass()
    sentinel(-1, 10 * _SESS_GAP_S).write.mode("append").parquet(staging)
    one_pass()
    sentinel(-2, 20 * _SESS_GAP_S).write.mode("append").parquet(staging)
    one_pass()
    return out


@register(
    "stream-stateful-timeout",
    f"""
WITH secs AS (
  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS sec FROM events
),
flagged AS (
  SELECT user_id, sec, event_id,
         CASE WHEN sec - lag(sec) OVER (
                PARTITION BY user_id ORDER BY sec ASC, event_id ASC)
              > {_SESS_GAP_S} THEN 1 ELSE 0 END AS new_s
  FROM secs
),
sess AS (
  SELECT user_id, sec,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY sec ASC, event_id ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sid
  FROM flagged
)
SELECT user_id, CAST(min(sec) AS BIGINT) AS session_start_s,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""".strip(),
    doc="Stateful TIMERS (SURVEY §2.J, the hardest stateful surface): "
    "sessions emit only when their EVENT-TIME timeout fires — in-batch "
    "gaps close sessions from the data callback, the open session per "
    "user closes from the hasTimedOut callback once the watermark "
    "passes last_event + gap (setTimeoutTimestamp clamped above the "
    "current watermark: a late-ish batch may carry data older than the "
    "already-advanced global watermark). Sentinel waves push the "
    "watermark past every open timer across four availableNow passes "
    "on one checkpoint, so the append-mode emission set provably "
    "converges to the complete batch session census — every session "
    "exactly once: a lost timer drops a session, a double fire "
    "duplicates one, early emission splits one. This is the "
    "cache-TTL/session-expiry primitive every stateful pipeline needs "
    "and per-batch aggregation cannot express.",
)
def q_stream_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    log_path = _run_stateful_timeout(spark, sf_dir)
    log = spark.read.schema(
        "user_id long, session_start_s long, n_events long"
    ).parquet(log_path)
    return log.where(F.col("user_id") >= 0)
