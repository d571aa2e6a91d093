"""North-star LLM-data-pipeline operators: dedup, similarity search, text
analysis (BASELINE.json north_star). Parity conventions per registry/crawl.py.

The dedup corpus injects exact duplicates (+20M ids) and near-duplicates
(+10M-offset ids, mutated tail) so every dedup tier has true positives; the
derivation is dialect-common SQL evaluated by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_knowledge_etl_spark import config
from ai_knowledge_etl_spark.functions import text as TX
from ai_knowledge_etl_spark.operators import dedup, similarity
from ai_knowledge_etl_spark.registry import register
from ai_knowledge_etl_spark.session import eager_cut, track_persist
from ai_knowledge_etl_spark.sources.catalog import load_table

# Cross-engine exact rounding (functions/parity.py): _rr_spark/_rr_duck
# are the shared round-half-away-from-zero-over-integer-ratio helpers —
# see parity.round_ratio_sql for the tie-class rationale and the three
# observed instances.
from ai_knowledge_etl_spark.functions.parity import (  # noqa: E402
    round_ratio_duck as _rr_duck,
    round_ratio_spark as _rr_spark,
)


DUP_CORPUS_CTE = """
dup_corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, source,
         text || ' near duplicate tail marker' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, source, text
  FROM documents WHERE doc_id % 25 = 0
)
""".strip()

# word-3-gram distinct shingles over the dup corpus (DuckDB side)
SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT doc_id, source, array_to_string(words[i:i+2], ' ') AS shingle
  FROM (
    SELECT doc_id, source, string_split(text, ' ') AS words,
           unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1))) AS i
    FROM dup_corpus
  )
)
""".strip()

# hot-shingle hygiene twin (operators/dedup.cap_shingle_df): shingles with
# per-source document frequency > DEDUP_SHINGLE_MAX_DF are boilerplate —
# excluded from every pairwise dedup stage in BOTH engines, so the cap is
# differential-checked, not just asserted.
CAPPED_SHINGLES_CTE = f"""
shc AS (
  SELECT sh.doc_id, sh.source, sh.shingle FROM sh
  JOIN (
    SELECT source, shingle FROM sh GROUP BY source, shingle
    HAVING count(*) <= {config.DEDUP_SHINGLE_MAX_DF}
  ) ok USING (source, shingle)
)
""".strip()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of DUP_CORPUS_CTE."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    near = (
        d.where("doc_id % 10 = 0")
        .select(
            (F.col("doc_id") + 10000000).alias("doc_id"),
            "source",
            F.concat("text", F.lit(" near duplicate tail marker")).alias("text"),
        )
    )
    exact = d.where("doc_id % 25 = 0").select(
        (F.col("doc_id") + 20000000).alias("doc_id"), "source", "text"
    )
    return d.unionByName(near).unionByName(exact)


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram shingles over the dup corpus (SHINGLES_CTE
    twin) — the common input of the jaccard/minhash/simhash queries."""
    return dedup.shingles(
        _dup_corpus(spark, sf_dir), "doc_id", "text", n=3, keep=("source",)
    )


def _shingles_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingles minus boilerplate (df cap, CAPPED_SHINGLES_CTE twin) — the
    input to every pairwise dedup stage. The cap reads the shingle stream
    twice (df count + anti-join), so the explode is persisted (tracked)."""
    return dedup.cap_shingle_df(
        track_persist(_shingles(spark, sf_dir)),
        "doc_id",
        config.DEDUP_SHINGLE_MAX_DF,
        group_col="source",
    )


# --- dedup family ---------------------------------------------------------------


@register(
    "dedup-exact",
    f"""
WITH {DUP_CORPUS_CTE},
fps AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM dup_corpus
)
SELECT fp, CAST(count(*) AS BIGINT) AS n_dups,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       array_to_string(list_transform(list_sort(list(doc_id)), x -> CAST(x AS STRING)), ',')
         AS member_ids
FROM fps GROUP BY fp HAVING count(*) > 1
""".strip(),
    doc="Exact dedup: hash-groupBy on md5(normalized text), keep min id "
    "(north-star baseline; the reference's at-most-once URL visits are the "
    "same shape, crawler-queue.sh:36-41).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicate_groups(
        _dup_corpus(spark, sf_dir), "doc_id", "text"
    )


@register(
    "dedup-ngram-jaccard",
    f"""
WITH {DUP_CORPUS_CTE}, {SHINGLES_CTE}, {CAPPED_SHINGLES_CTE},
counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM shc a JOIN shc b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter,
       round(inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE), 4) AS jaccard
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE round(inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE), 4) >= 0.6
""".strip(),
    doc="n-gram Jaccard near-dup pairs: distinct 3-gram shingles → hot-"
    "shingle df cap → same-source blocked self-join → |∩|/|∪| ≥ 0.6. "
    "Blocking keeps the join equi-key — never all-pairs; the df cap bounds "
    "any single key's fanout (north-star dedup tier 2).",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.jaccard_pairs(
        _shingles_capped(spark, sf_dir), "doc_id", "source", threshold=0.6
    )
    return pairs.select("doc_a", "doc_b", "inter", "jaccard")


_MINHASH_BANDS_SQL = ",\n    ".join(
    f"max(CASE WHEN seed = {2 * b} THEN sig END)"
    f" || max(CASE WHEN seed = {2 * b + 1} THEN sig END) AS band{b}"
    for b in range(4)
)
_MINHASH_CAND_SQL = "\n  UNION ALL\n  ".join(
    f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a"
    f" JOIN banded b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
    for b in range(4)
)


@register(
    "dedup-minhash",
    f"""
WITH {DUP_CORPUS_CTE}, {SHINGLES_CTE}, {CAPPED_SHINGLES_CTE},
seeded AS (
  SELECT doc_id, unnest(generate_series(0, 7)) AS seed, shingle FROM shc
),
sigs AS (
  SELECT doc_id, seed,
         min(md5(CAST(seed AS STRING) || ':' || shingle)) AS sig
  FROM seeded GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id,
    {_MINHASH_BANDS_SQL}
  FROM sigs GROUP BY doc_id
),
cands AS (
  {_MINHASH_CAND_SQL}
)
SELECT DISTINCT doc_a, doc_b FROM cands
""".strip(),
    doc="MinHash-LSH candidate pairs: df-capped shingles → 8 seeded min-md5 "
    "signatures → 4 bands of 2 → bucket join per band → distinct pairs. "
    "Engine-portable md5 signatures make the full LSH pipeline "
    "oracle-checkable (north-star dedup tier 3; swap xxhash64 when parity "
    "isn't needed). Boilerplate shingles are excluded BEFORE signatures — "
    "they'd otherwise drag unrelated docs into shared min-hashes.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(
        _shingles_capped(spark, sf_dir), "doc_id", k=8, rows_per_band=2
    )


_SIMHASH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")
_SIMHASH_VOTES_SQL = ",\n    ".join(
    "sum(CASE WHEN substring(md5(shingle), %d, 1) IN ('%s') THEN 1 ELSE -1 END) AS v%d"
    % (i + 1, "','".join(_SIMHASH_HEX), i)
    for i in range(16)
)
_SIMHASH_BITS_SQL = " || ".join(
    f"CASE WHEN v{i} > 0 THEN '1' ELSE '0' END" for i in range(16)
)


@register(
    "dedup-simhash",
    f"""
WITH {DUP_CORPUS_CTE}, {SHINGLES_CTE},
votes AS (
  SELECT doc_id,
    {_SIMHASH_VOTES_SQL}
  FROM sh GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_BITS_SQL} AS simhash
FROM votes
""".strip(),
    doc="16-bit SimHash per doc: per-bit ±1 votes over shingle md5 nibbles "
    "(north-star dedup tier 4; near-dups land at small Hamming distance).",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(_shingles(spark, sf_dir), "doc_id")


# --- similarity search -----------------------------------------------------------

_COS_SQL = """
list_sum(list_transform(generate_series(1, len(e.embedding)),
         i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
/ (sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
""".strip()


@register(
    "similarity-topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id, {_COS_SQL} AS cos
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, round(cos, 4) AS cos_sim, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= 10
""".strip(),
    doc="Brute-force cosine top-10 per query vector (north-star ANN "
    "baseline): broadcast queries × corpus, JVM-side zip_with fold, "
    "per-query ranking window.",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(
        emb.select("vec_id", "embedding"), queries, k=10
    )


_BUCKET_SQL = " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END" for i in range(8)
)


@register(
    "similarity-lsh-bucketed",
    f"""
WITH bucketed AS (
  SELECT vec_id, embedding, CAST({_BUCKET_SQL} AS INTEGER) AS bucket FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, bucket FROM bucketed WHERE vec_id < 20
),
scored AS (
  SELECT q.query_id, e.vec_id, {_COS_SQL.replace("q.qe", "q.qe").replace("e.embedding", "e.embedding")} AS cos
  FROM bucketed e JOIN q ON e.bucket = q.bucket
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, round(cos, 4) AS cos_sim, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= 5
""".strip(),
    doc="Sign-LSH bucketed approximate top-5: candidates share the query's "
    "8-plane sign bucket, so the join is equi-key on a small int — the "
    "100 TB path (north-star ANN scale tier).",
)
def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_topk(emb, queries, k=5, n_planes=8)


@register(
    "dedup-minhash-verified",
    f"""
WITH {DUP_CORPUS_CTE}, {SHINGLES_CTE}, {CAPPED_SHINGLES_CTE},
seeded AS (
  SELECT doc_id, unnest(generate_series(0, 7)) AS seed, shingle FROM shc
),
sigs AS (
  SELECT doc_id, seed,
         min(md5(CAST(seed AS STRING) || ':' || shingle)) AS sig
  FROM seeded GROUP BY doc_id, seed
),
banded AS (
  SELECT doc_id,
    {_MINHASH_BANDS_SQL}
  FROM sigs GROUP BY doc_id
),
cands AS (
  {_MINHASH_CAND_SQL}
),
pairs AS (SELECT DISTINCT doc_a, doc_b FROM cands),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM pairs p
  JOIN shc a ON a.doc_id = p.doc_a
  JOIN shc b ON b.doc_id = p.doc_b AND a.shingle = b.shingle
  GROUP BY p.doc_a, p.doc_b
),
counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shc GROUP BY doc_id)
SELECT i.doc_a, i.doc_b,
       round(i.inter / CAST(ca.n_sh + cb.n_sh - i.inter AS DOUBLE), 4) AS jaccard
FROM inter i
JOIN counts ca ON i.doc_a = ca.doc_id
JOIN counts cb ON i.doc_b = cb.doc_id
WHERE round(i.inter / CAST(ca.n_sh + cb.n_sh - i.inter AS DOUBLE), 4) >= 0.5
""".strip(),
    doc="The canonical two-stage near-dup pipeline: MinHash-LSH generates "
    "candidates (cheap, recall-oriented), exact Jaccard verifies them "
    "(precision) — compute the expensive metric only on co-bucketed pairs. "
    "At 100 TB this candidate→verify shape is the whole point of LSH.",
)
def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # four consumers (signatures + both verify-join sides + sizes)
    sh = track_persist(_shingles_capped(spark, sf_dir))
    pairs = dedup.minhash_lsh_candidates(sh, "doc_id", k=8, rows_per_band=2)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("shingle").alias("sh_b"))
    inter = (
        pairs.join(a, "doc_a")
        .join(
            b,
            (F.col("doc_b") == F.col("b_id")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= 0.5)


_COS_CENT_SQL = _COS_SQL.replace("q.qe", "c.ce").replace("e.embedding", "e.embedding")


@register(
    "similarity-ivf",
    f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 16
),
assigned AS (
  SELECT e.vec_id, e.embedding, c.cent_id, {_COS_CENT_SQL} AS ccos,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_COS_CENT_SQL} DESC, c.cent_id ASC) AS crn
  FROM embeddings e, cents c
),
cells AS (SELECT vec_id, embedding, cent_id FROM assigned WHERE crn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qe, cent_id
  FROM cells WHERE vec_id >= 100 AND vec_id < 105
),
scored AS (
  SELECT q.query_id, e.vec_id, {_COS_SQL} AS cos
  FROM cells e JOIN q ON e.cent_id = q.cent_id
),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, round(cos, 4) AS cos_sim, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= 5
""".strip(),
    doc="IVF-style ANN: 16 fixed 'centroid' vectors partition the corpus "
    "into cells (nearest-centroid assignment); queries probe only their own "
    "cell, then exact cosine + rank. The coarse quantizer turns the scan "
    "into an equi-join on cell id — with k-means centroids this is literal "
    "IVF-Flat; the plan shape is identical (north-star ANN scale tier 2).",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    # eager cut: cells feeds the query-side filter AND the scored join —
    # uncut, the coarse-quantizer subtree (16x broadcast cross + per-vec
    # ranking window over the full corpus) ran once per consumer
    # (r11 A/B at sf0.1: 2.26 -> 1.98 s min-of-5, same rows)
    cells = eager_cut(similarity.ivf_assign(emb, cents))
    q = cells.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        "cent_id",
    )
    return similarity.ivf_topk(cells, q, k=5)


@register(
    "stream-funnel",
    """
WITH secs AS (
  SELECT user_id, event_type, epoch_ns(ts) // 1000000000 AS sec FROM events
),
v AS (SELECT user_id, min(sec) AS t_view FROM secs WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT s.user_id, min(s.sec) AS t_click
  FROM secs s JOIN v ON s.user_id = v.user_id
  WHERE s.event_type = 'click' AND s.sec > v.t_view
  GROUP BY s.user_id
),
p AS (
  SELECT s.user_id, min(s.sec) AS t_purchase
  FROM secs s JOIN c ON s.user_id = c.user_id
  WHERE s.event_type = 'purchase' AND s.sec > c.t_click
  GROUP BY s.user_id
)
SELECT v.user_id, CAST(v.t_view AS BIGINT) AS t_view,
       CAST(c.t_click AS BIGINT) AS t_click,
       CAST(p.t_purchase AS BIGINT) AS t_purchase,
       (p.t_purchase IS NOT NULL) AS converted
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
""".strip(),
    doc="Ordered funnel view→click→purchase per user (sequence analytics "
    "over event time — the training-data-pipeline cousin of sessionization).",
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000000000").alias("sec")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("sec") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("sec") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.col("t_view").cast("bigint").alias("t_view"),
            F.col("t_click").cast("bigint").alias("t_click"),
            F.col("t_purchase").cast("bigint").alias("t_purchase"),
            F.col("t_purchase").isNotNull().alias("converted"),
        )
    )


@register(
    "filter-quality-docs",
    """
WITH stats AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS wc,
         length(regexp_replace(text, '\\s+', '', 'g'))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS awl,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / len(string_split(text, ' ')) AS ttr
  FROM documents
)
SELECT doc_id, lang, CAST(wc AS INTEGER) AS word_count,
       round(awl, 3) AS avg_word_len, round(ttr, 3) AS type_token_ratio
FROM stats
WHERE wc >= 30 AND awl >= 3.0 AND awl <= 12.0 AND ttr >= 0.3
""".strip(),
    doc="C4-style quality gate for training corpora: length floor, sane "
    "mean token length, type-token-ratio floor (kills degenerate repetition). "
    "All codegen'd column math — the 100 TB corpus filter shape "
    "(north-star text analysis).",
)
def q_filter_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split("text", " ")
    wc = F.size(words)
    awl = F.length(F.regexp_replace("text", r"\s+", "")) / wc.cast("double")
    ttr = F.size(F.array_distinct(words)).cast("double") / wc
    stats = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        wc.alias("wc"),
        awl.alias("awl"),
        ttr.alias("ttr"),
    )
    return stats.where(
        (F.col("wc") >= 30)
        & (F.col("awl") >= 3.0)
        & (F.col("awl") <= 12.0)
        & (F.col("ttr") >= 0.3)
    ).select(
        "doc_id",
        "lang",
        F.col("wc").cast("int").alias("word_count"),
        F.round("awl", 3).alias("avg_word_len"),
        F.round("ttr", 3).alias("type_token_ratio"),
    )


# --- text analysis ----------------------------------------------------------------


@register(
    "udf-text-stats",
    """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS char_count,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS word_count,
       CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS distinct_words,
       round(length(regexp_replace(text, '\\s+', '', 'g'))
             / CAST(len(string_split(text, ' ')) AS DOUBLE), 3) AS avg_word_len
FROM documents
""".strip(),
    doc="Quality-scoring features: char/word/distinct-word counts, mean "
    "token length (north-star text analysis).",
)
def q_udf_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = F.split("text", " ")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length("text").cast("bigint").alias("char_count"),
        F.size(words).cast("int").alias("word_count"),
        F.size(F.array_distinct(words)).cast("int").alias("distinct_words"),
        F.round(
            F.length(F.regexp_replace("text", r"\s+", ""))
            / F.size(words).cast("double"),
            3,
        ).alias("avg_word_len"),
    )


_LANG_COUNTS_SQL = ",\n    ".join(
    f"len(regexp_extract_all(lower(text), '({probe})', 1)) AS c_{lang}"
    for lang, probe in TX.LANG_PROBES.items()
)
_LANG_BEST_SQL = "greatest(" + ", ".join(f"c_{lang}" for lang in TX.LANG_PROBES) + ")"
_LANG_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN c_{lang} = best AND best > 0 THEN '{lang}'" for lang in TX.LANG_PROBES
    )
    + " ELSE 'und' END"
)


@register(
    "udf-lang-detect",
    f"""
WITH counts AS (
  SELECT doc_id, lang,
    {_LANG_COUNTS_SQL}
  FROM documents
),
best_t AS (SELECT *, {_LANG_BEST_SQL} AS best FROM counts)
SELECT doc_id, lang, {_LANG_CASE_SQL} AS guess,
       CAST(({_LANG_CASE_SQL}) = lang AS BOOLEAN) AS is_correct
FROM best_t
""".strip(),
    doc="Heuristic stopword-probe language ID vs the lang ground-truth "
    "column (north-star text analysis; n-gram heuristic tier — a model UDF "
    "slots behind the same signature).",
)
def q_udf_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    guess = TX.lang_guess("text")
    return d.select(
        "doc_id",
        "lang",
        guess.alias("guess"),
        (guess == F.col("lang")).alias("is_correct"),
    )


@register(
    "udf-token-count",
    """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 1)) AS INTEGER)
         AS bpe_ish_tokens,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens
FROM documents
""".strip(),
    doc="Token counting: whitespace + BPE-ish regex segmentation "
    "(north-star text analysis).",
)
def q_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.regexp_extract_all(
                "text", F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])"), 1
            )
        )
        .cast("int")
        .alias("bpe_ish_tokens"),
        F.size(F.split("text", " ")).cast("int").alias("ws_tokens"),
    )


@register(
    "doc-fingerprint",
    """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
       md5(substring(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 64)) AS prefix_fp
FROM documents
""".strip(),
    doc="Document fingerprinting: full + 64-char-prefix md5 over normalized "
    "text (north-star text analysis; prefix fp catches truncation dups).",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = dedup.normalize_text("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(norm).alias("fp"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_fp"),
    )


_L2_E_C_SQL = """
list_sum(list_transform(generate_series(1, len(e.embedding)),
  i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))
     * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))))
""".strip()


@register(
    "similarity-kmeans-ann",
    f"""
WITH c0 AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM embeddings WHERE vec_id < 8
),
d1 AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_L2_E_C_SQL} ASC, c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN c0 c
),
a1 AS (SELECT vec_id, embedding, cent_id FROM d1 WHERE rn = 1),
flat AS (
  SELECT cent_id, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM a1
),
upd AS (
  SELECT cent_id, pos, round(avg(CAST(val AS DOUBLE)), 6) AS m
  FROM flat GROUP BY cent_id, pos
),
c1 AS (SELECT cent_id, array_agg(m ORDER BY pos) AS ce FROM upd GROUP BY cent_id),
d2 AS (
  SELECT e.vec_id, c.cent_id,
         round({_L2_E_C_SQL}, 4) AS dist,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_L2_E_C_SQL} ASC, c.cent_id ASC) AS rn
  FROM embeddings e CROSS JOIN c1 c
),
a2 AS (SELECT vec_id, cent_id, dist FROM d2 WHERE rn = 1),
agg AS (
  SELECT cent_id, CAST(count(*) AS BIGINT) AS n_vecs,
         CAST(min(vec_id) AS BIGINT) AS rep_vec,
         CAST(sum(CAST(dist AS DECIMAL(18,4))) * 10000 AS BIGINT) AS s4
  FROM a2 GROUP BY cent_id
)
SELECT cent_id, n_vecs, rep_vec,
       ({{RR_S4}} / 10000.0) AS avg_dist
FROM agg
""".strip().replace("{RR_S4}", _rr_duck("s4", "n_vecs", 0)),
    doc="Real k-means coarse quantizer for IVF-ANN: two Lloyd iterations "
    "(assign to nearest-L2 centroid; recompute element-wise means) run as "
    "pure DataFrame ops — no driver-side loop over vectors. Centroid "
    "updates are posexplode -> groupBy(cent,pos) -> avg -> re-assemble, so "
    "the update shuffles k*dim rows regardless of corpus size; assignment "
    "is corpus x k with k broadcast. Parity: centroid components round to "
    "6dp (making them bit-identical across engines despite avg summation "
    "order), then all downstream distance math is deterministic per-row "
    "IEEE double. At 100 TB the same plan holds: iterate assignments over "
    "the corpus, with only k*dim bytes ever collected/broadcast per round.",
)
def q_similarity_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def l2(a: F.Column, b: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def assign(cents: DataFrame) -> DataFrame:
        d = l2(F.col("embedding"), F.col("ce"))
        w = Window.partitionBy("vec_id").orderBy(
            F.asc("__d"), F.asc("cent_id")
        )
        return (
            emb.crossJoin(F.broadcast(cents))
            .select("vec_id", "embedding", "cent_id", d.alias("__d"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
        )

    c0 = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    a1 = assign(c0).select("vec_id", "embedding", "cent_id")
    c1 = (
        a1.select("cent_id", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cent_id", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
        .groupBy("cent_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cent_id", F.transform("pm", lambda s: s.m).alias("ce"))
    )
    a2 = assign(c1).select(
        "vec_id", "cent_id", F.round("__d", 4).alias("dist")
    )
    # avg_dist is an EXACT finite-decimal ratio (sum of 4dp decimals /
    # count), so engine round() is tie-UNSAFE across engines — the
    # seed-23 sweep caught a 1-cell divergence at exactly 0.93735.
    # Cross-multiplied integer rounding (_round_ratio_sql), same repair
    # as udf-readability: s4 = sum in 1e-4 units (exact BIGINT), then
    # round_half_away(s4/n)/1e4 — deterministic in both engines.
    agg = a2.groupBy("cent_id").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("vec_id").cast("bigint").alias("rep_vec"),
        (F.sum(F.col("dist").cast("decimal(18,4)")) * 10000)
        .cast("long")
        .alias("s4"),
    )
    return agg.select(
        "cent_id",
        "n_vecs",
        "rep_vec",
        (_rr_spark("s4", "n_vecs", 0) / F.lit(10000.0)).alias("avg_dist"),
    )


# --- dedup clustering: transitive closure over near-dup pairs -------------------


@register(
    "dedup-cluster-cc",
    f"""
WITH RECURSIVE {DUP_CORPUS_CTE}, {SHINGLES_CTE}, {CAPPED_SHINGLES_CTE},
fps AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM dup_corpus
),
exact_edges AS (
  SELECT a, b FROM (
    SELECT min(doc_id) OVER (PARTITION BY fp) AS a, doc_id AS b FROM fps
  ) WHERE a <> b
),
-- exact-first ordering (mirrors the Spark side): the Jaccard stage sees
-- ONE representative per exact-fingerprint group, so d byte-identical
-- copies never put d rows on the same shingle join key. Closure output
-- is identical — replica edges are reachable via the exact star edges.
reps AS MATERIALIZED (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp),
shr AS MATERIALIZED (
  SELECT shc.doc_id, shc.source, shc.shingle FROM shc JOIN reps USING (doc_id)
),
counts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shr GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM shr a JOIN shr b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
jac_edges AS (
  SELECT doc_a AS a, doc_b AS b
  FROM inter
  JOIN counts ca ON doc_a = ca.doc_id
  JOIN counts cb ON doc_b = cb.doc_id
  WHERE inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE) >= 0.6
),
edges0 AS (SELECT a, b FROM exact_edges UNION SELECT a, b FROM jac_edges),
edges AS (SELECT a, b FROM edges0 UNION SELECT b AS a, a AS b FROM edges0),
reach(node, lab) AS (
  SELECT a AS node, a AS lab FROM edges
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
labs AS (
  SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_id
  FROM reach GROUP BY node
)
SELECT cluster_id, CAST(doc_id AS BIGINT) AS doc_id,
       doc_id = cluster_id AS is_canonical,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM labs
""".strip(),
    doc="Transitive dedup clustering: exact-fingerprint edges + "
    "Jaccard>=0.6 near-dup edges -> connected components -> one canonical "
    "doc (min id) per cluster. Spark side is iterative min-label "
    "propagation (operators/clustering.py, two shuffles per round, rounds "
    "= cluster diameter); oracle is DuckDB WITH RECURSIVE transitive "
    "closure. The injected corpus chains X ~ X+10000000 (near) and "
    "X ~ X+20000000 (exact) so multi-edge merging is actually exercised. "
    "Scale (round-3 100x sweep finding): the Jaccard stage runs on ONE "
    "REPRESENTATIVE per exact-fingerprint group, not the full corpus — "
    "a corpus with d byte-identical copies per doc otherwise puts d "
    "copies of every shingle on the same join key (d at or under the "
    "df cap slips past it: the 100x fixture replicates exactly 100x "
    "against max_df=100, fanning the self-join to ~d^2 per key and "
    "hanging the sweep). Exact-first ordering leaves the clusters "
    "provably identical: replicas have identical shingle sets, so any "
    "replica-level Jaccard edge is reachable through the exact star "
    "edges plus the representative edge — the standard exact-then-fuzzy "
    "sequencing of production dedup pipelines, and the oracle's closure "
    "output is unchanged by construction.",
)
def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from ai_knowledge_etl_spark.operators import clustering

    corpus = _dup_corpus(spark, sf_dir)
    fps = corpus.select("doc_id", dedup.fingerprint("text").alias("fp"))
    w = Window.partitionBy("fp")
    exact_e = (
        fps.withColumn("a", F.min("doc_id").over(w))
        .where(F.col("a") != F.col("doc_id"))
        .select("a", F.col("doc_id").alias("b"))
    )
    reps = (
        fps.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sh_reps = _shingles_capped(spark, sf_dir).join(reps, "doc_id", "left_semi")
    jac_e = dedup.jaccard_pairs(
        sh_reps, "doc_id", "source", threshold=0.6
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    return clustering.canonical_clusters(exact_e.unionByName(jac_e))


# --- text analysis wave 2: diversity + readability ------------------------------


# flesch proxy 206.835 - 1.015*(W/S) - 84.6*(C/W/3) as ONE exact ratio
# over the common denominator 1000*S*W (shared verbatim by both engines;
# the numerator fits 64 bits only for small docs, so _round_ratio_sql
# widens it before scaling).
_FLESCH_NUM = (
    "206835 * n_sentences * n_words - 1015 * n_words * n_words"
    " - 28200 * n_chars * n_sentences"
)
_FLESCH_DEN = "1000 * n_sentences * n_words"


@register(
    "udf-lexical-diversity",
    f"""
WITH cnt AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
),
tot AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(sum(c * c) AS BIGINT) AS sq
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_distinct, n_words,
       {_rr_duck('n_distinct', 'n_words', 6)} AS ttr,
       {_rr_duck('n_words * n_words - sq', 'n_words * n_words', 6)}
         AS gini_diversity
FROM tot
""".strip(),
    doc="Lexical diversity per doc: type-token ratio + Gini-Simpson "
    "diversity 1 - sum(c^2)/T^2. Deliberately entropy-free: every "
    "intermediate is an exact integer (sum c, sum c^2), and the 6-digit "
    "rounding is cross-multiplied integer arithmetic (functions/parity) "
    "so cross-engine parity is exact even at decimal rounding ties — "
    "the same signal entropy gives for quality filtering, without log().",
)
def q_udf_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_distinct"),
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sq"),
    )
    return tot.select(
        "doc_id",
        "n_distinct",
        "n_words",
        _rr_spark("n_distinct", "n_words", 6).alias("ttr"),
        _rr_spark(
            "n_words * n_words - sq", "n_words * n_words", 6
        ).alias("gini_diversity"),
    )


@register(
    "udf-readability",
    f"""
WITH stats AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(strlen(replace(text, ' ', '')) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_words, n_sentences,
       {_rr_duck('n_words', 'n_sentences', 4)} AS words_per_sentence,
       {_rr_duck('n_chars', 'n_words', 4)} AS chars_per_word,
       {_rr_duck(_FLESCH_NUM, _FLESCH_DEN, 4)} AS flesch_proxy
FROM stats
""".strip(),
    doc="Readability scoring per doc: words/sentence, chars/word, and a "
    "Flesch-style proxy (chars/word/3 standing in for syllables/word — "
    "a syllable counter is language-specific; the formula shape and the "
    "quality-gate use are identical). Narrow map over integer counts; "
    "the proxy 206.835 - 1.015*W/S - 28.2*C/W is cross-multiplied onto "
    "the single exact ratio (206835*S*W - 1015*W^2 - 28200*C*S) / "
    "(1000*S*W) and rounded in integer arithmetic (functions/parity), "
    "so parity holds even at decimal rounding ties — the wide-vocab "
    "sweep caught the engine-round() tie at exactly -109.44875.",
)
def q_udf_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    n_words = F.size(F.split("text", " ")).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("long")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "long"
    )
    stats = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_chars.alias("n_chars"),
    )
    return stats.select(
        "doc_id",
        "n_words",
        "n_sentences",
        _rr_spark("n_words", "n_sentences", 4).alias("words_per_sentence"),
        _rr_spark("n_chars", "n_words", 4).alias("chars_per_word"),
        _rr_spark(_FLESCH_NUM, _FLESCH_DEN, 4).alias("flesch_proxy"),
    )


@register(
    "dedup-fuzzy-levenshtein",
    f"""
WITH {DUP_CORPUS_CTE},
pref AS (
  SELECT doc_id, source, substring(text, 1, 40) AS p FROM dup_corpus
),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
  FROM pref a JOIN pref b
    ON a.source = b.source
   AND substring(a.p, 1, 8) = substring(b.p, 1, 8)
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(levenshtein(pa, pb) AS INTEGER) AS edit_dist
FROM cand
WHERE levenshtein(pa, pb) <= 5
""".strip(),
    doc="Fuzzy dedup tier via edit distance: block on an 8-char prefix "
    "(equi-join, never all-pairs), then levenshtein on 40-char prefixes "
    "<= 5 — catches typo-level near-dups that shingle Jaccard misses. "
    "levenshtein is a JVM builtin in Spark and a native function in "
    "DuckDB, so the O(len^2) kernel never leaves the engine.",
)
def q_dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _dup_corpus(spark, sf_dir)
    pref = d.select(
        "doc_id", "source", F.substring("text", 1, 40).alias("p")
    )
    a = pref.alias("a")
    b = pref.alias("b")
    cand = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.substring(F.col("a.p"), 1, 8) == F.substring(F.col("b.p"), 1, 8))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.levenshtein(F.col("a.p"), F.col("b.p")).alias("edit_dist"),
    )
    return cand.where(F.col("edit_dist") <= 5).select(
        "doc_a", "doc_b", F.col("edit_dist").cast("int").alias("edit_dist")
    )


# Shared by pipeline-entity-resolution and project-golden-record: noisy
# variant construction + blocking + feature-gated candidate edges + the
# recursive transitive closure, ending in labs(rec_id, cluster_id).
_ER_CTE_SQL = """
recs AS (
  SELECT c_custkey * 10 AS rec_id, c_name AS name,
         CAST(c_nationkey AS BIGINT) AS nat,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
  UNION ALL
  SELECT c_custkey * 10 + 1, replace(c_name, '#', '-'),
         CAST(c_nationkey AS BIGINT),
         CAST(round(c_acctbal * 100) AS BIGINT)
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey * 10 + 2,
         c_name || substr(c_name, length(c_name), 1),
         CAST(c_nationkey AS BIGINT),
         CAST(round(c_acctbal * 100) AS BIGINT)
  FROM customer WHERE c_custkey % 7 = 0
),
blocked AS (
  SELECT rec_id, name, bal_c,
         nat * 1000000 + CAST(substr(name, 10, 6) AS BIGINT) AS blk
  FROM recs
),
cand AS (
  SELECT a.rec_id AS ea, b.rec_id AS eb
  FROM blocked a JOIN blocked b
    ON a.blk = b.blk AND a.bal_c = b.bal_c AND a.rec_id < b.rec_id
  WHERE levenshtein(a.name, b.name) <= 2
),
edges AS (SELECT ea AS a, eb AS b FROM cand
          UNION SELECT eb AS a, ea AS b FROM cand),
reach(node, lab) AS (
  SELECT a AS node, a AS lab FROM edges
  UNION
  SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
labs AS (
  SELECT node AS rec_id, CAST(min(lab) AS BIGINT) AS cluster_id
  FROM reach GROUP BY node
)
""".strip()


@register(
    "pipeline-entity-resolution",
    f"""
WITH RECURSIVE {_ER_CTE_SQL}
SELECT cluster_id, CAST(rec_id AS BIGINT) AS rec_id,
       rec_id = cluster_id AS is_canonical,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
FROM labs
""".strip(),
    doc="Entity resolution (record linkage) as a composed pipeline: "
    "customer records plus deterministic noisy variants (punctuation "
    "typo for custkey%5, doubled trailing char for custkey%7 — "
    "custkey%35 entities get BOTH, a 3-record cluster) are blocked on "
    "(nation, leading name digits), candidate pairs inside a block must "
    "agree on account-balance cents AND sit within levenshtein<=2, and "
    "surviving edges collapse through the same iterative "
    "connected-components operator the dedup tier uses "
    "(operators/clustering.canonical_clusters). Oracle replays blocking "
    "+ edit distance + a WITH RECURSIVE closure. Scale: the pair stage "
    "is an equi-join on (block, cents) — never all-pairs, candidate "
    "sets bounded by block size; the feature gate (levenshtein) is a "
    "JVM builtin post-filter on the joined rows; CC rounds = cluster "
    "diameter (~2 here). This is the canonical-customer-table step a "
    "training pipeline runs before per-entity aggregation.",
)
def q_pipeline_entity_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ai_knowledge_etl_spark.operators import clustering

    _blocked, cand = _er_blocked_cand(spark, sf_dir)
    return clustering.canonical_clusters(cand).select(
        "cluster_id",
        F.col("doc_id").alias("rec_id"),
        "is_canonical",
        "n_members",
    )


def _er_blocked_cand(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Spark twin of _ER_CTE_SQL up to `cand`: (blocked records,
    candidate edge pairs)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    bal = F.round(F.col("c_acctbal") * 100).cast("long")

    def rec(ids, name_col):
        return cust.where(ids).select(
            name_col[0].alias("rec_id"),
            name_col[1].alias("name"),
            F.col("c_nationkey").cast("long").alias("nat"),
            bal.alias("bal_c"),
        )

    k = F.col("c_custkey")
    base = rec(F.lit(True), ((k * 10), F.col("c_name")))
    va = rec(
        k % 5 == 0,
        ((k * 10 + 1), F.expr("replace(c_name, '#', '-')")),
    )
    vb = rec(
        k % 7 == 0,
        (
            (k * 10 + 2),
            F.expr("c_name || substr(c_name, length(c_name), 1)"),
        ),
    )
    blocked = (
        base.unionByName(va)
        .unionByName(vb)
        .select(
            "rec_id",
            "name",
            "bal_c",
            (
                F.col("nat") * 1000000
                + F.expr("CAST(substr(name, 10, 6) AS BIGINT)")
            ).alias("blk"),
        )
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bal_c") == F.col("b.bal_c"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .where(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2)
        .select(
            F.col("a.rec_id").alias("a"), F.col("b.rec_id").alias("b")
        )
    )
    return blocked, cand


@register(
    "project-golden-record",
    f"""
WITH RECURSIVE {_ER_CTE_SQL},
members AS (
  SELECT l.cluster_id, l.rec_id, b.name
  FROM labs l JOIN blocked b ON b.rec_id = l.rec_id
),
ranked AS (
  SELECT cluster_id, rec_id, name,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY length(name) DESC, rec_id) AS rn,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS n_members
  FROM members
)
SELECT cluster_id, CAST(rec_id AS BIGINT) AS best_rec_id,
       name AS best_name, n_members
FROM ranked WHERE rn = 1
""".strip(),
    doc="Survivorship (golden-record construction) on top of the "
    "entity-resolution clusters: each multi-record entity elects ONE "
    "surviving attribute set by the most-complete-wins rule — longest "
    "name, rec_id tiebreak — via a per-cluster ranking window, the step "
    "that turns linkage clusters into a canonical dimension table. "
    "Shares _er_blocked_cand / _ER_CTE_SQL with "
    "pipeline-entity-resolution so both sides resolve identical "
    "clusters; the window partitions by cluster_id (bounded groups, "
    "never global). At 100 TB survivorship is one window over the "
    "clustered minority of records — singletons never enter the edge "
    "set, so the frame is |clustered records|, not |corpus|.",
)
def q_project_golden_record(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from ai_knowledge_etl_spark.operators import clustering

    blocked, cand = _er_blocked_cand(spark, sf_dir)
    clusters = clustering.connected_components(cand)
    members = clusters.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.col("node").cast("long").alias("rec_id"),
    ).join(blocked.select("rec_id", "name"), "rec_id")
    wc = Window.partitionBy("cluster_id")
    wr = wc.orderBy(F.length("name").desc(), F.asc("rec_id"))
    ranked = members.select(
        "cluster_id",
        "rec_id",
        "name",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).cast("long").alias("n_members"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("rec_id").alias("best_rec_id"),
        F.col("name").alias("best_name"),
        "n_members",
    )


@register(
    "filter-expectations-gate",
    """
WITH checks AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN n_chars BETWEEN 10 AND 100000 THEN 1 ELSE 0 END)
      AS BIGINT) AS ok_len,
    CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END)
      AS BIGINT) AS ok_lang,
    CAST(sum(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 ELSE 0 END)
      AS BIGINT) AS ok_text,
    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids
  FROM documents
)
SELECT rule, n_checked, n_passed,
       n_passed * 100 >= n_checked * min_pct AS gate_ok
FROM (
  SELECT 'len_in_range' AS rule, n_rows AS n_checked, ok_len AS n_passed,
         CAST(90 AS BIGINT) AS min_pct FROM checks
  UNION ALL
  SELECT 'lang_known', n_rows, ok_lang, CAST(95 AS BIGINT) FROM checks
  UNION ALL
  SELECT 'text_nonempty', n_rows, ok_text, CAST(100 AS BIGINT) FROM checks
  UNION ALL
  SELECT 'id_unique', n_rows, n_ids, CAST(100 AS BIGINT) FROM checks
)
""".strip(),
    doc="Declarative data-quality gate (the expectations pattern): a rule "
    "set — length range, known language, non-empty text, unique ids — "
    "evaluated in ONE pass over the corpus as conditional counts, each "
    "rule emitting (n_checked, n_passed, gate verdict) with the "
    "threshold compared by integer cross-multiplication (n_passed*100 "
    ">= n_checked*min_pct — no ratio floats). A pipeline fails fast on "
    "gate_ok=false before burning compute downstream; contrast with "
    "filter-quarantine-split which routes ROWS, this gates the RUN. "
    "Scale: one map-side-combining aggregate, 1-row combine, O(rules) "
    "output — the corpus is scanned exactly once for every rule.",
)
def q_filter_expectations_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    checks = d.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.when(F.col("n_chars").between(10, 100000), 1).otherwise(0)
        ).cast("long").alias("ok_len"),
        F.sum(
            F.when(
                F.col("lang").isin("en", "de", "fr", "es", "zh"), 1
            ).otherwise(0)
        ).cast("long").alias("ok_lang"),
        F.sum(
            F.when(
                F.col("text").isNotNull() & (F.length("text") > 0), 1
            ).otherwise(0)
        ).cast("long").alias("ok_text"),
        F.count_distinct("doc_id").cast("long").alias("n_ids"),
    )
    rules = [
        ("len_in_range", "ok_len", 90),
        ("lang_known", "ok_lang", 95),
        ("text_nonempty", "ok_text", 100),
        ("id_unique", "n_ids", 100),
    ]
    frames = [
        checks.select(
            F.lit(rule).alias("rule"),
            F.col("n_rows").alias("n_checked"),
            F.col(col).alias("n_passed"),
            (F.col(col) * 100 >= F.col("n_rows") * min_pct).alias("gate_ok"),
        )
        for rule, col, min_pct in rules
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# --- product quantization (IVF-PQ tier) ------------------------------------------

_L2_SV_SQL = """
list_sum(list_transform(generate_series(1, len(s.sv)),
    i -> (CAST(s.sv[i] AS DOUBLE) - CAST(c.sv[i] AS DOUBLE))
       * (CAST(s.sv[i] AS DOUBLE) - CAST(c.sv[i] AS DOUBLE))))
""".strip()


@register(
    "similarity-ivf-pq",
    f"""
WITH subs AS MATERIALIZED (
  SELECT vec_id, m, embedding[m * 8 + 1 : m * 8 + 8] AS sv
  FROM embeddings, unnest(generate_series(0, 7)) t(m)
),
c0 AS (SELECT m, vec_id AS cent, sv FROM subs WHERE vec_id < 4),
d1 AS (
  SELECT s.vec_id, s.m, s.sv, c.cent,
         row_number() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {_L2_SV_SQL} ASC, c.cent ASC) AS rn
  FROM subs s JOIN c0 c ON s.m = c.m
),
a1 AS (SELECT vec_id, m, sv, cent FROM d1 WHERE rn = 1),
flat AS (
  SELECT m, cent, unnest(sv) AS val, generate_subscripts(sv, 1) AS pos
  FROM a1
),
cb AS MATERIALIZED (
  SELECT m, cent, array_agg(mu ORDER BY pos) AS sv FROM (
    SELECT m, cent, pos, round(avg(CAST(val AS DOUBLE)), 6) AS mu
    FROM flat GROUP BY m, cent, pos
  ) GROUP BY m, cent
),
enc AS MATERIALIZED (
  SELECT vec_id, m, cent AS code FROM (
    SELECT s.vec_id, s.m, c.cent,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_L2_SV_SQL} ASC, c.cent ASC) AS rn
    FROM subs s JOIN cb c ON s.m = c.m
  ) WHERE rn = 1
),
qt AS (
  SELECT c.m, c.cent,
         CAST(round({_L2_SV_SQL} * 10000) AS BIGINT) AS qd_e4
  FROM (SELECT m, sv FROM subs WHERE vec_id = 0) s
  JOIN cb c ON s.m = c.m
),
adist AS (
  SELECT e.vec_id,
         CAST(sum(q.qd_e4) AS BIGINT) AS adist_e4,
         md5(string_agg(CAST(e.code AS STRING), ',' ORDER BY e.m)) AS codes_fp
  FROM enc e JOIN qt q ON e.m = q.m AND e.code = q.cent
  GROUP BY e.vec_id
)
SELECT vec_id, adist_e4, codes_fp
FROM adist ORDER BY adist_e4 ASC, vec_id ASC LIMIT 10
""".strip(),
    doc="Product quantization with asymmetric distance (Jegou et al. "
    "2011, public — the compression tier of IVF-PQ, the index family "
    "100 TB vector search actually runs): 64-dim embeddings split into "
    "8 sub-vectors of 8 dims; each sub-space trains a 4-centroid "
    "codebook (one Lloyd round, components rounded to 6dp for "
    "engine-identical codebooks); vectors encode to 8 one-byte codes "
    "(32x compression); a query scores the whole corpus by summing "
    "per-sub-space lookup-table distances — integer ten-thousandths so "
    "the 8-term sum is associative — and takes the top-10 with the "
    "codes fingerprinted, so the oracle verifies every vector's full "
    "code assignment. Scale: codebooks are k*M rows (broadcast), "
    "encoding is one corpus x (M*K) broadcast join, the ADC scan "
    "touches 8 BIGINTs per vector instead of 64 floats — at 100 TB "
    "this plus the IVF cell routing (similarity-ivf) is the whole "
    "billion-scale ANN serving recipe.",
)
def q_similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return similarity.pq_topk(
        emb, query_vec_id=0, n_sub=8, sub_dim=8, n_cents=4, k=10
    )


# --- asymmetric containment dedup ------------------------------------------------

_CONT_CORPUS_CTE = """
cont_corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 50000000 AS doc_id, source,
         array_to_string(
           string_split(text, ' ')[1:(len(string_split(text, ' ')) // 2)],
           ' ') || ' zzqcontainmentprobe' AS text
  FROM documents
  WHERE doc_id % 9 = 2 AND len(string_split(text, ' ')) >= 24
)
""".strip()

_CONT_SHINGLES_CTE = """
csh AS (
  SELECT DISTINCT doc_id, source,
         array_to_string(words[i:i+2], ' ') AS shingle
  FROM (
    SELECT doc_id, source, string_split(text, ' ') AS words,
           unnest(generate_series(1,
                  greatest(len(string_split(text, ' ')) - 2, 1))) AS i
    FROM cont_corpus
  )
)
""".strip()

_CONT_CAPPED_CTE = f"""
cshc AS (
  SELECT csh.doc_id, csh.source, csh.shingle FROM csh
  JOIN (
    SELECT source, shingle FROM csh GROUP BY source, shingle
    HAVING count(*) <= {config.DEDUP_SHINGLE_MAX_DF}
  ) ok USING (source, shingle)
)
""".strip()


@register(
    "dedup-containment",
    f"""
WITH {_CONT_CORPUS_CTE}, {_CONT_SHINGLES_CTE}, {_CONT_CAPPED_CTE},
counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM cshc GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM cshc a JOIN cshc b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter, ca.n_sh AS n_a, cb.n_sh AS n_b,
       CAST((1000000 * inter) // least(ca.n_sh, cb.n_sh) AS BIGINT)
         AS cont_ppm
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE (1000000 * inter) // least(ca.n_sh, cb.n_sh) >= 800000
""".strip(),
    doc="ASYMMETRIC containment dedup (operators/dedup.containment_pairs): "
    "|A∩B| / min(|A|,|B|) over capped 3-gram shingles — catches a document "
    "CONTAINED in a longer one (excerpts, quotes, page-plus-boilerplate), "
    "the partial-copy class symmetric Jaccard misses because the union is "
    "dominated by the longer side (Jaccard for a half-doc excerpt tops out "
    "near 0.5 < the 0.6 gate). The probe corpus injects first-half "
    "excerpts (+50M ids, docs >= 24 words so the crossing-shingle loss "
    "stays under the 0.8 gate); same same-source blocking + hot-shingle "
    "df cap as every pairwise stage, and the score is exact integer ppm "
    "division — no float in the gate.",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    probes = (
        docs.where(
            "doc_id % 9 = 2 AND size(split(text, ' ')) >= 24"
        )
        .select(
            (F.col("doc_id") + 50000000).alias("doc_id"),
            "source",
            F.expr(
                "concat(concat_ws(' ', slice(split(text, ' '), 1, "
                "size(split(text, ' ')) div 2)), ' zzqcontainmentprobe')"
            ).alias("text"),
        )
    )
    corpus = docs.unionByName(probes)
    sh = dedup.shingles(corpus, "doc_id", "text", n=3, keep=("source",))
    shc = dedup.cap_shingle_df(
        sh, "doc_id", config.DEDUP_SHINGLE_MAX_DF, "source"
    )
    return dedup.containment_pairs(
        shc, "doc_id", "source", threshold_ppm=800000
    )


_IP_SQL = """
list_sum(list_transform(generate_series(1, len(e.embedding)),
         i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
""".strip()


@register(
    "similarity-mips",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id, {_IP_SQL} AS ip
  FROM embeddings e, q
),
ranked AS (
  SELECT query_id, vec_id, ip,
         row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, round(ip, 4) AS inner_product, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= 10
""".strip(),
    doc="Maximum-inner-product top-10 via the norm-augmentation reduction "
    "(operators/similarity.mips_topk): corpus vectors gain a "
    "sqrt(M^2-||x||^2) dimension, queries a 0, and cosine over the "
    "augmented space orders exactly like the raw inner product — the "
    "public trick that makes recommendation-style MIPS servable by any "
    "cosine-ANN index (LSH/IVF/PQ) unchanged. Both engines rank by the "
    "raw inner product (bit-identical double folds, so the differential "
    "hash is stable under near-ties); the augmented-cosine ordering the "
    "index would see is proven rank-equivalent corpus-wide in "
    "tests/test_similarity_quality.py. One scalar max-norm aggregate "
    "broadcast to the scan, queries broadcast, JVM-side zip_with folds — "
    "no Python in the loop.",
)
def q_similarity_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.mips_topk(emb, queries, k=10)


# --- end-to-end RAG indexing pipeline --------------------------------------------

_RAG_DIMS = 8


def _rag_emb_sql() -> str:
    dims = ", ".join(
        f"(ascii(substring(chunk, {i * 3 + 1}, 1)) % 32) / 32.0"
        f" + {i}.0 / {_RAG_DIMS}"
        for i in range(_RAG_DIMS)
    )
    return f"[{dims}]"


def _qcos_sql(l: str, r: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_RAG_DIMS}),"
        f" i -> CAST({l}[i] * {r}[i] AS DOUBLE)))"
        f" / (sqrt(CAST(list_sum(list_transform({l}, x -> x * x)) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform({r}, x -> x * x)) AS DOUBLE)))"
    )


_RAG_ORACLE = f"""
WITH exploded AS (
  SELECT doc_id, text,
         unnest(generate_series(0, least(greatest(CAST(ceil((length(text)-100)/900.0) AS INT), 1), 50) - 1)) AS i
  FROM documents
),
chunks AS (
  SELECT doc_id, doc_id * 100 + i AS chunk_key,
         substring(text, CAST(i*900+1 AS INT), 1000) AS chunk
  FROM exploded
),
emb AS (SELECT doc_id, chunk_key, {_rag_emb_sql()} AS e FROM chunks),
sc AS (SELECT doc_id, chunk_key, e, list_max(e) AS s FROM emb),
codes AS (
  SELECT doc_id, chunk_key,
         list_transform(e, x -> CAST(round(127 * x / s) AS BIGINT)) AS c
  FROM sc
),
cents AS (
  SELECT doc_id AS cent_id, c AS cc FROM codes
  WHERE doc_id < 16 AND chunk_key % 100 = 0
),
assign AS (
  SELECT k.chunk_key, k.c, ct.cent_id,
         row_number() OVER (PARTITION BY k.chunk_key
                            ORDER BY {_qcos_sql("k.c", "ct.cc")} DESC,
                                     ct.cent_id ASC) AS rn
  FROM codes k, cents ct
),
cells AS (SELECT chunk_key, c, cent_id FROM assign WHERE rn = 1),
q AS (
  SELECT chunk_key AS query_id, c AS qc, cent_id FROM cells
  WHERE (chunk_key // 100) % 97 = 3 AND chunk_key % 100 = 0
),
scored AS (
  SELECT q.query_id, e.chunk_key, {_qcos_sql("q.qc", "e.c")} AS cos
  FROM cells e JOIN q USING (cent_id)
),
ranked AS (
  SELECT query_id, chunk_key, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, chunk_key ASC) AS rnk
  FROM scored
)
SELECT query_id, chunk_key, round(cos, 4) AS cos_sim, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= 5
""".strip()


def _int_cos(a, b):
    """Cosine over two integer code arrays: integer products cast to double
    before the fold — every intermediate is exact (|code| <= 127, dot <=
    129032), so the resulting double is BIT-IDENTICAL across engines and
    summation orders; only the final sqrt/divide are (IEEE-exact) float."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(v, lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (n(a) * n(b))


@register(
    "pipeline-rag-index",
    _RAG_ORACLE,
    doc="RAG indexing END-TO-END (the north-star serving pipeline "
    "composed): documents -> overlapping 1000/100 RAG chunks "
    "(operators/chunking.rag_chunks_fixed, pure sequence+explode) -> "
    "per-chunk embedding (deterministic stub behind the model seam; an "
    "API embedder slots into the same array<double> contract) -> "
    "PER-VECTOR int8 quantization (code = round(127*x/max(x)) — 16x "
    "smaller index; the per-vector scale CANCELS in cosine, so candidate "
    "scoring runs on pure integer codes and every cosine is "
    "bit-identical across engines) -> IVF coarse assignment (16 "
    "centroid chunks, nearest-centroid equi-cells) -> queries probe "
    "only their own cell, exact quantized-cosine top-5. One composed "
    "oracle replays chunking, embedding, quantization, assignment, and "
    "routing in closed form. Scale: chunk+embed+quantize are narrow "
    "maps; assignment is a broadcast of 16 centroids; the candidate "
    "join is equi-key on cell id — the IVF-Flat serving plan at any "
    "corpus size.",
)
def q_pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.operators import chunking

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    chunks = chunking.rag_chunks_fixed(docs, "doc_id", "text", 1000, 100, 50)
    chunks = chunks.select(
        "doc_id",
        (F.col("doc_id") * 100 + F.col("chunk_idx")).alias("chunk_key"),
        "chunk",
    )
    emb = chunks.select(
        "doc_id",
        "chunk_key",
        F.array(
            *[
                (F.ascii(F.substring("chunk", i * 3 + 1, 1)) % 32) / 32.0
                + i / _RAG_DIMS
                for i in range(_RAG_DIMS)
            ]
        ).alias("e"),
    )
    codes = emb.withColumn("s", F.array_max("e")).select(
        "doc_id",
        "chunk_key",
        F.transform(
            "e", lambda x: F.round(F.lit(127) * x / F.col("s")).cast("long")
        ).alias("c"),
    )
    cents = codes.where(
        (F.col("doc_id") < 16) & (F.col("chunk_key") % 100 == 0)
    ).select(F.col("doc_id").alias("cent_id"), F.col("c").alias("cc"))
    from pyspark.sql import Window

    def assign_cells(code_df):
        # nearest-centroid as an AGGREGATE, not a ranking window (the
        # dedup-paragraph discipline): map-side combine collapses the
        # 16x fan-out to one row per chunk per partition BEFORE the
        # shuffle; a window would shuffle the full 16x pair stream.
        # max(struct(cos, -cent_id)) == "highest cos, then smallest
        # cent_id"; c rides along via first() (constant per chunk_key).
        pairs = code_df.crossJoin(F.broadcast(cents)).select(
            "chunk_key",
            "c",
            F.struct(
                _int_cos(F.col("c"), F.col("cc")).alias("cos"),
                (-F.col("cent_id")).alias("negc"),
            ).alias("sc"),
        )
        return pairs.groupBy("chunk_key").agg(
            F.first("c").alias("c"), F.max("sc").alias("m")
        ).select("chunk_key", "c", (-F.col("m.negc")).alias("cent_id"))

    cells = assign_cells(codes)
    # query chunks filter BEFORE assignment: only the handful of query
    # vectors re-run the centroid probe, instead of re-deriving the full
    # corpus assignment a second time (chunk_key = doc_id*100 + idx, so
    # the predicate prunes at the chunk stage)
    q = assign_cells(
        codes.where(
            (F.col("doc_id") % 97 == 3) & (F.col("chunk_key") % 100 == 0)
        )
    ).select(
        F.col("chunk_key").alias("query_id"),
        F.col("c").alias("qc"),
        "cent_id",
    )
    scored = cells.join(F.broadcast(q), "cent_id").select(
        "query_id",
        "chunk_key",
        _int_cos(F.col("qc"), F.col("c")).alias("cos"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cos"), F.asc("chunk_key")
            )
        )
        .cast("int"),
    )
    return ranked.where(F.col("rank") <= 5).select(
        "query_id", "chunk_key", F.round("cos", 4).alias("cos_sim"), "rank"
    )
