"""Property-style invariants on the scalar kernels (SURVEY §5.4):
scores in [0,10], priority in [0,13], truncation always carries the notice,
normalization idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_knowledge_etl_spark import config
from ai_knowledge_etl_spark.functions import scoring, text, urls
from ai_knowledge_etl_spark.sources import synthetic as syn
from ai_knowledge_etl_spark.sources.catalog import load_table


def test_score_bounds(spark, sf_dir):
    links = syn.with_links_columns(load_table(spark, sf_dir, "documents"))
    scored = links.select(
        scoring.score_link("url", "anchor", "context", syn.TOPIC_RE).alias("s")
    )
    row = scored.agg(F.min("s"), F.max("s")).first()
    assert 0 <= row[0] and row[1] <= config.SCORE_CAP


def test_priority_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    links = syn.with_links_columns(docs).withColumn(
        "ls", scoring.score_link("url", "anchor", "context", syn.TOPIC_RE)
    )
    pri = links.select(
        scoring.priority("ls", F.lit(10)).alias("hi"),
        scoring.priority("ls", F.lit(0)).alias("lo"),
    )
    row = pri.agg(F.max("hi"), F.min("lo")).first()
    assert row[0] <= config.SCORE_CAP + config.PARENT_BONUS_HIGH[1]
    assert row[1] >= 0


def test_truncate_notice_always_marked(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = docs.select(
        "text", text.truncate_with_notice("text", 200).alias("t")
    )
    bad = out.where(
        (F.length("text") > 200) & ~F.col("t").endswith(config.TRUNCATE_NOTICE)
    ).count()
    assert bad == 0
    # truncated output never exceeds limit + notice length
    too_long = out.where(
        F.length("t") > 200 + len(config.TRUNCATE_NOTICE)
    ).count()
    assert too_long == 0


def test_url_normalize_idempotent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    u = syn.with_links_columns(docs).select("url")
    once = u.select(urls.normalize("url").alias("n1"))
    twice = once.select(
        F.col("n1"), urls.normalize("n1").alias("n2")
    )
    assert twice.where(F.col("n1") != F.col("n2")).count() == 0


def test_approx_distinct_within_tolerance(spark, sf_dir):
    from ai_knowledge_etl_spark.registry import REGISTRY

    row = REGISTRY["agg-approx-distinct"].spark(spark, sf_dir).first()
    exact = REGISTRY["agg-distinct-urls"].spark(spark, sf_dir).first()[
        "distinct_urls"
    ]
    assert row["exact_urls"] == exact
    assert row["within_5pct"] is True


def test_traversal_bands_partition_scores(spark):
    df = spark.range(0, 11).select(
        F.col("id").alias("s"), scoring.traversal_action("s").alias("a")
    )
    rows = {r["s"]: r["a"] for r in df.collect()}
    assert rows[10] == "dfs_deep" and rows[8] == "dfs_deep"
    assert rows[7] == "bfs" and rows[5] == "bfs"
    assert rows[4] == "prune" and rows[0] == "prune"


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """approx_percentile (the 100 TB path documented on agg-percentiles)
    must land within 1% relative error of the exact quantile at fixture
    scale — guards accuracy parameter regressions."""
    from pyspark.sql import functions as F

    from ai_knowledge_etl_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("approx"),
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("exact"),
    ).first()
    for a, e in zip(row["approx"], row["exact"]):
        assert abs(a - e) <= max(abs(e) * 0.01, 1e-9), (a, e)


def test_observe_collects_pipeline_metrics_without_extra_pass(spark, sf_dir):
    """df.observe(): validation metrics (row count, quarantine count,
    char total) ride along the SAME job that materializes the result —
    at 100 TB this replaces a second full scan per metric."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ai_knowledge_etl_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("ingest_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.length("text") < 80, 1).otherwise(0)).alias(
            "n_quarantined"
        ),
        F.sum("n_chars").alias("total_chars"),
    )
    kept = observed.where(F.length("text") >= 80).count()
    m = obs.get
    assert m["n_rows"] == docs.count()
    assert m["n_rows"] - m["n_quarantined"] == kept
    assert m["total_chars"] > 0


def test_python_udtf_surface(spark):
    """Spark 4 Python UDTF (@udtf): one input row -> N output rows with a
    declared schema, lateral-joined in SQL — the table-function API the
    chunking family can migrate to."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no int, piece string")
    class SplitWords:
        def eval(self, text: str, width: int):
            words = text.split()
            for i in range(0, len(words), width):
                yield i // width, " ".join(words[i : i + width])

    spark.udtf.register("split_words", SplitWords)
    rows = spark.sql(
        "SELECT t.id, s.chunk_no, s.piece "
        "FROM VALUES (0, 'a b c d e'), (1, 'x y') AS t(id, txt), "
        "LATERAL split_words(t.txt, 2) AS s"
    ).collect()
    got = {(r["id"], r["chunk_no"], r["piece"]) for r in rows}
    assert got == {
        (0, 0, "a b"),
        (0, 1, "c d"),
        (0, 2, "e"),
        (1, 0, "x y"),
    }


def test_embed_text_array_contract(spark, sf_dir):
    """The array<double> embedding contract (model-embedder column shape)
    lives in embed_text_array(); the REGISTERED udf-embed-text query
    projects per-dim scalar columns because the driver canonicalizer
    cannot hash list cells (CORRECTNESS_r02). The two must agree
    element-for-element."""
    from pyspark.sql.types import ArrayType, DoubleType

    from ai_knowledge_etl_spark.registry.sources_sinks import (
        _EMB_DIMS,
        embed_text_array,
        q_udf_embed_text,
    )

    docs = load_table(spark, sf_dir, "documents")
    arr = embed_text_array(docs)
    field = arr.schema["embedding"].dataType
    assert isinstance(field, ArrayType)
    assert isinstance(field.elementType, DoubleType)

    flat = q_udf_embed_text(spark, sf_dir)
    # registered shape: scalar-only top-level columns
    assert flat.columns == ["doc_id"] + [f"emb_{i}" for i in range(_EMB_DIMS)]
    joined = (
        arr.select(
            "doc_id",
            *[
                F.round(F.col("embedding")[i], 6).alias(f"a_{i}")
                for i in range(_EMB_DIMS)
            ],
        )
        .join(flat, "doc_id")
        .where(
            " OR ".join(f"a_{i} <> emb_{i}" for i in range(_EMB_DIMS))
        )
    )
    assert joined.count() == 0


def test_sniff_bytes_edge_cases():
    """BOM beats content; truncated multibyte tails are latin-1, not a
    crash; lone continuation bytes never pass the strict decode."""
    from ai_knowledge_etl_spark.functions.encoding import sniff_bytes

    assert sniff_bytes(None) == "empty"
    assert sniff_bytes(b"") == "empty"
    assert sniff_bytes(b"\xef\xbb\xbfhello") == "utf-8-bom"
    assert sniff_bytes(b"\xff\xfeh\x00i\x00") == "utf-16le"
    assert sniff_bytes(b"\xfe\xff\x00h\x00i") == "utf-16be"
    assert sniff_bytes(b"plain ascii") == "ascii"
    assert sniff_bytes("文档".encode()) == "utf-8"
    assert sniff_bytes(b"\xe9caf") == "latin-1"  # bare latin-1 e-acute
    assert sniff_bytes("文".encode()[:2]) == "latin-1"  # truncated seq
    assert sniff_bytes(b"\x80\x80") == "latin-1"  # lone continuations


def test_case_mapping_is_jvm_and_matches_python(spark, sf_dir):
    """get_spark turns the ICU case mappings off (docs/PERF.md); stream
    clones inherit that, and lower/upper still agree with Python on
    Latin-1, the Greek final sigma and U+0130."""
    from ai_knowledge_etl_spark.registry.streaming import _stream_join_session

    key = "spark.sql.icu.caseMappings.enabled"
    clone = _stream_join_session(spark, load_table(spark, sf_dir, "events"))
    assert spark.conf.get(key) == "false"
    assert clone.conf.get(key) == "false"

    words = ["Hello, World 42", "ÀÉÎÕÜß", "ΟΔΟΣ", "İstanbul", "İ"]
    rows = (
        spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", F.lower("w").alias("lo"), F.upper("w").alias("up"))
        .collect()
    )
    assert [(r.lo, r.up) for r in rows] == [(w.lower(), w.upper()) for w in words]
