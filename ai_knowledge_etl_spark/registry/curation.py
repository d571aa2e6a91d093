"""Corpus-curation wave 2 (north-star LLM-data-pipeline extensions):
paragraph-level dedup, SemDeDup-style semantic dedup, DSIR-style importance
reweighting, and the text-normalization kernel every one of them assumes.

All fully oracled: the DuckDB twins replay the identical hash / centroid /
log-ratio arithmetic (md5-over-text is engine-independent; log weights are
rounded to integer millinats BEFORE summation so the per-doc sums are
associative and engine-independent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_knowledge_etl_spark.operators import curation as CU
from ai_knowledge_etl_spark.operators import lm as _lm
from ai_knowledge_etl_spark.registry import register
from ai_knowledge_etl_spark.session import eager_cut, track_persist
from ai_knowledge_etl_spark.sources import synthetic as syn
from ai_knowledge_etl_spark.sources.catalog import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- paragraph-level dedup ------------------------------------------------------

_PARA_CTE = f"""
pdocs AS (SELECT doc_id, {syn.PARA_TEXT_EXPR} AS ptext FROM documents),
paras AS (
  SELECT doc_id, idx, para FROM (
    SELECT doc_id,
           generate_subscripts(string_split(ptext, chr(10) || chr(10)), 1) AS idx,
           unnest(string_split(ptext, chr(10) || chr(10))) AS para
    FROM pdocs
  ) WHERE length(trim(para)) > 0
),
ranked AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, idx) AS rn
  FROM paras
)
""".strip()


@register(
    "dedup-paragraph",
    f"""
WITH {_PARA_CTE}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                           chr(10) || chr(10) ORDER BY idx), '') AS text_kept
FROM ranked GROUP BY doc_id
""".strip(),
    doc="Paragraph-level exact dedup across the corpus (north-star: strip "
    "boilerplate footers shared by millions of pages): split → fingerprint "
    "→ keep-first window on md5(para) → per-doc reassembly. The shuffle key "
    "is the 32-char fingerprint, constant-width at any paragraph size; "
    "reference analog is the at-most-once visit set "
    "(scripts/crawler-queue.sh:36-41) at paragraph granularity.",
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(syn.PARA_TEXT_EXPR).alias("ptext")
    )
    return CU.paragraph_dedup(docs)


# --- SemDeDup -------------------------------------------------------------------

# reuse the dup-injected embedding corpus + cosine fragment from the
# embedding-dedup family so the semantic tier sees real near-duplicates
from ai_knowledge_etl_spark.registry.sources_sinks import (  # noqa: E402
    EMB_DUP_CTE,
    _COS_PAIR_SQL,
)

# Per-cluster size cap for the SemDeDup pair join (VERDICT r2 #2): bounds
# the worst single-cluster fanout at cap² rows. 1000 is a deliberate
# no-op at every fixture SF (max observed cluster: 76 at sf0.01, 326 at
# sf0.1) while capping a degenerate corpus at 1M candidate pairs/cluster.
_SEM_MAX_CLUSTER = 1000


_L2_SQL = """
list_sum(list_transform(generate_series(1, len(e.embedding)),
         i -> (e.embedding[i] - c.ce[i]) * (e.embedding[i] - c.ce[i])))
""".strip()


@register(
    "dedup-semantic",
    f"""
WITH {EMB_DUP_CTE},
cents AS (
  SELECT vec_id AS cent_id, embedding AS ce FROM emb_corpus WHERE vec_id < 8
),
assigned AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_L2_SQL} ASC, c.cent_id ASC) AS rn
    FROM emb_corpus e CROSS JOIN cents c
  ) WHERE rn = 1
),
eligible AS (
  -- cluster-size cap (cap_shingle_df pattern): clusters with more than
  -- {_SEM_MAX_CLUSTER} members are excluded from pair generation (all
  -- kept) so a degenerate centroid set can't fan out |cluster|^2.
  -- No-op at fixture scale (max cluster 326 at sf0.1), verified by
  -- tests/test_curation.py::test_semantic_cluster_cap_is_noop_at_fixture
  SELECT * FROM assigned WHERE cluster NOT IN (
    SELECT cluster FROM assigned GROUP BY cluster
    HAVING count(*) > {_SEM_MAX_CLUSTER}
  )
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eligible a JOIN eligible b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE ({_COS_PAIR_SQL}) >= 0.95
),
dropped AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
SELECT s.vec_id, CAST(s.cluster AS BIGINT) AS cluster,
       d.vec_id IS NULL AS kept
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
""".strip(),
    doc="SemDeDup (Abbas et al. 2023, public): coarse-cluster embeddings by "
    "nearest centroid (broadcast, no shuffle on the fact side), then drop "
    "every vector ≥0.95 cosine to a lower-id vector within its cluster. "
    "The pairwise stage is bounded by cluster size — the semantic analog "
    "of the LSH-bucket bound in dedup-embedding-cosine — and a "
    "per-cluster size cap (max_cluster_size=1000, mirrored in the oracle "
    "CTE) excludes mega-clusters from the pair join entirely, exactly "
    "like dedup.cap_shingle_df excludes hot shingles. Worst case "
    "measured in tools/bench_semantic_cap.py / docs/PERF.md.",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.registry.sources_sinks import _emb_dup_corpus

    corpus = _emb_dup_corpus(spark, sf_dir)
    cents = corpus.where("vec_id < 8").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    # the assignment feeds three consumers (both pair-join sides + the
    # verdict join): persisted, tracked for release_persisted()
    assigned = track_persist(CU.nearest_centroid(corpus, cents))
    out = CU.semantic_dedup(
        corpus,
        cents,
        threshold=0.95,
        assigned=assigned,
        max_cluster_size=_SEM_MAX_CLUSTER,
    )
    return out.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "kept"
    )


# --- DSIR importance reweighting ------------------------------------------------

_BUCKET_SQL = (
    "((strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 256 + "
    "(strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) * 16 + "
    "strpos('0123456789abcdef', substring(md5(tok), 3, 1)) - 1) % "
    f"{CU.N_FEATURE_BUCKETS}"
)

_TOKENS_CTE = f"""
toks AS (
  SELECT doc_id, tok, CAST({_BUCKET_SQL} AS INTEGER) AS bucket
  FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
    FROM documents
  ) WHERE length(tok) > 0
)
""".strip()


@register(
    "sample-importance-reweight",
    f"""
WITH {_TOKENS_CTE},
c AS (SELECT bucket, count(*) AS c_n FROM toks GROUP BY bucket),
t AS (
  SELECT bucket, count(*) AS t_n FROM toks
  JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY bucket
),
tot AS (
  SELECT (SELECT count(*) FROM toks) AS c_tot,
         (SELECT count(*) FROM toks JOIN documents USING (doc_id)
          WHERE lang = 'en') AS t_tot
),
w AS (
  SELECT c.bucket,
         CAST(round(1000000.0 * (
            ln((coalesce(t.t_n, 0) + 1.0) / (tot.t_tot + {CU.N_FEATURE_BUCKETS}))
          - ln((c.c_n + 1.0) / (tot.c_tot + {CU.N_FEATURE_BUCKETS}))
         )) AS BIGINT) AS w_millinats
  FROM c LEFT JOIN t ON c.bucket = t.bucket CROSS JOIN tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(w.w_millinats) AS BIGINT) AS score_millinats
FROM toks JOIN w ON toks.bucket = w.bucket
GROUP BY doc_id
""".strip(),
    doc="DSIR-style importance reweighting (Xie et al. 2023, public): "
    "hashed unigram features (md5 → 4096 buckets), per-bucket "
    "log-likelihood-ratio weight of the target slice (lang='en') vs the "
    "whole corpus, per-doc integer-millinat sum. Weights round to BIGINT "
    "before summation, so the score is associative — byte-identical under "
    "any partitioning; the weight table is a 4096-row broadcast.",
)
def q_sample_importance_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CU.importance_scores(_docs(spark, sf_dir), "lang = 'en'")


# --- end-to-end curation pipeline -----------------------------------------------

_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text_kept), '[^a-z0-9 ]', "
    "' ', 'g'), ' +', ' ', 'g'))"
)

_CURATE_ORACLE = f"""
WITH {_PARA_CTE},
dd AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                             chr(10) || chr(10) ORDER BY idx), '') AS text_kept
  FROM ranked GROUP BY doc_id
),
gated AS (
  SELECT doc_id, n_kept, norm FROM (
    SELECT doc_id, n_kept, {_NORM_SQL} AS norm FROM dd
  ) WHERE length(norm) >= 80
),
flagged AS (
  SELECT g.doc_id, g.n_kept, g.norm, (d.lang = 'en') AS is_target
  FROM gated g JOIN documents d USING (doc_id)
),
toks AS (
  SELECT doc_id, is_target, CAST({_BUCKET_SQL} AS INTEGER) AS bucket
  FROM (
    SELECT doc_id, is_target,
           unnest(string_split_regex(lower(norm), '[^a-z]+')) AS tok
    FROM flagged
  ) WHERE length(tok) > 0
),
c AS (
  SELECT bucket, count(*) AS c_n,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_n
  FROM toks GROUP BY bucket
),
tot AS (
  SELECT count(*) AS c_tot,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_tot
  FROM toks
),
w AS (
  SELECT bucket,
         CAST(round(1000000.0 * (
            ln((t_n + 1.0) / (tot.t_tot + {CU.N_FEATURE_BUCKETS}))
          - ln((c_n + 1.0) / (tot.c_tot + {CU.N_FEATURE_BUCKETS}))
         )) AS BIGINT) AS w_millinats
  FROM c CROSS JOIN tot
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(w.w_millinats) AS BIGINT) AS score_millinats
  FROM toks JOIN w USING (bucket) GROUP BY doc_id
)
SELECT s.doc_id, f.n_kept, s.n_toks, s.score_millinats
FROM scored s JOIN flagged f USING (doc_id)
ORDER BY score_millinats DESC, doc_id ASC
LIMIT 100
""".strip()


# --- Common-Crawl entry pipeline (scan-warc → gates → dedup → DSIR) -------------

# lexicographic-min md5 band fragments shared with dedup-minhash
from ai_knowledge_etl_spark.registry.northstar import (  # noqa: E402
    _MINHASH_BANDS_SQL,
    _MINHASH_CAND_SQL,
)

from ai_knowledge_etl_spark import config as _cfg  # noqa: E402

# Measured under the CAPPED unigram LM (operators/lm, K=24 binds on this
# corpus): survivor spread ~[-3.33, -1.77] with p5 ≈ -3.10 at every SF
# (0.001/0.01/0.1) — gate at the 5% tail so the lp stage provably rejects
# docs on the test corpus (a gate that never fires is an untested gate).
_PWC_LP_MIN = -3.1

_WARC_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text_kept), '[^a-z0-9 ]', "
    "' ', 'g'), ' +', ' ', 'g'))"
)

_WARC_CORPUS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, lang, source, {{PWC_TEXT}} AS text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, lang, source,
         {{PWC_CLONE}} AS text
  FROM documents WHERE doc_id % 10 = 5
),
surv AS MATERIALIZED (SELECT * FROM corpus WHERE doc_id % 13 <> 0),
words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv),
tri AS (
  SELECT doc_id, greatest(len(ws) - 2, 1) AS t3,
         len(list_distinct(list_transform(
             generate_series(1, greatest(len(ws) - 2, 1)),
             i -> array_to_string(ws[i:i+2], ' ')))) AS d3
  FROM words
),
tw AS (SELECT doc_id, w, count(*) AS c
       FROM (SELECT doc_id, unnest(ws) AS w FROM words) GROUP BY doc_id, w),
topw AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS n_tokens
         FROM tw GROUP BY doc_id),
gop AS (
  SELECT t.doc_id FROM tri t JOIN topw USING (doc_id)
  WHERE 1.0 - CAST(d3 AS DOUBLE) / t3 <= {_cfg.GOPHER_DUP3_MAX}
    AND CAST(mx AS DOUBLE) / n_tokens <= {_cfg.GOPHER_TOPWORD_MAX}
),
gated AS MATERIALIZED (SELECT s.* FROM surv s JOIN gop USING (doc_id)),
gtoks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM gated),
{_lm.oracle_lm_ctes("gtoks")},
lp AS (
  SELECT doc_id, round(avg(lp), 3) AS avg_logprob FROM lmtoks GROUP BY doc_id
),
qual AS MATERIALIZED (
  SELECT g.doc_id, g.lang, g.source, g.text, l.avg_logprob
  FROM gated g JOIN lp l USING (doc_id)
  WHERE l.avg_logprob >= {_PWC_LP_MIN}
),
paras AS (
  SELECT doc_id, idx, para FROM (
    SELECT doc_id,
           generate_subscripts(string_split(text, chr(10) || chr(10)), 1) AS idx,
           unnest(string_split(text, chr(10) || chr(10))) AS para
    FROM qual
  ) WHERE length(trim(para)) > 0
),
ranked AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY md5(para)
                            ORDER BY doc_id, idx) AS rn
  FROM paras
),
dd AS MATERIALIZED (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_paras,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                             chr(10) || chr(10) ORDER BY idx), '') AS text_kept
  FROM ranked GROUP BY doc_id
),
sh AS MATERIALIZED (
  SELECT DISTINCT doc_id, source, array_to_string(w2[i:i+2], ' ') AS shingle
  FROM (
    SELECT d.doc_id, q.source, string_split(d.text_kept, ' ') AS w2,
           unnest(generate_series(1,
             greatest(len(string_split(d.text_kept, ' ')) - 2, 1))) AS i
    FROM dd d JOIN qual q USING (doc_id)
  )
),
shc AS MATERIALIZED (
  SELECT sh.doc_id, sh.source, sh.shingle FROM sh
  JOIN (
    SELECT source, shingle FROM sh GROUP BY source, shingle
    HAVING count(*) <= {_cfg.DEDUP_SHINGLE_MAX_DF}
  ) ok USING (source, shingle)
),
seeded AS (
  SELECT doc_id, unnest(generate_series(0, 7)) AS seed, shingle FROM shc
),
sigs AS MATERIALIZED (
  SELECT doc_id, seed,
         min(md5(CAST(seed AS STRING) || ':' || shingle)) AS sig
  FROM seeded GROUP BY doc_id, seed
),
banded AS MATERIALIZED (
  SELECT doc_id,
    {_MINHASH_BANDS_SQL}
  FROM sigs GROUP BY doc_id
),
cands AS (
  {_MINHASH_CAND_SQL}
),
dupes AS (SELECT DISTINCT doc_b FROM cands),
kept AS MATERIALIZED (
  SELECT d.* FROM dd d LEFT JOIN dupes ON d.doc_id = dupes.doc_b
  WHERE dupes.doc_b IS NULL
),
normd AS (
  SELECT doc_id, n_kept, norm FROM (
    SELECT doc_id, n_kept, {_WARC_NORM_SQL} AS norm FROM kept
  ) WHERE length(norm) >= 40
),
flagged AS MATERIALIZED (
  SELECT n.doc_id, n.n_kept, n.norm, (q.lang = 'en') AS is_target,
         q.avg_logprob
  FROM normd n JOIN qual q USING (doc_id)
),
dtoks AS MATERIALIZED (
  SELECT doc_id, is_target, CAST({_BUCKET_SQL} AS INTEGER) AS bucket
  FROM (
    SELECT doc_id, is_target,
           unnest(string_split_regex(lower(norm), '[^a-z]+')) AS tok
    FROM flagged
  ) WHERE length(tok) > 0
),
c AS (
  SELECT bucket, count(*) AS c_n,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_n
  FROM dtoks GROUP BY bucket
),
tot AS (
  SELECT count(*) AS c_tot,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_tot
  FROM dtoks
),
w AS (
  SELECT bucket,
         CAST(round(1000000.0 * (
            ln((t_n + 1.0) / (tot.t_tot + {CU.N_FEATURE_BUCKETS}))
          - ln((c_n + 1.0) / (tot.c_tot + {CU.N_FEATURE_BUCKETS}))
         )) AS BIGINT) AS w_millinats
  FROM c CROSS JOIN tot
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         CAST(sum(w.w_millinats) AS BIGINT) AS score_millinats
  FROM dtoks JOIN w USING (bucket) GROUP BY doc_id
)
SELECT s.doc_id, f.n_kept, s.n_toks, f.avg_logprob, s.score_millinats
FROM scored s JOIN flagged f USING (doc_id)
ORDER BY score_millinats DESC, s.doc_id ASC
LIMIT 100
""".strip()


def _warc_corpus_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Packed-WARC probe fixture for pipeline-warc-corpus, built on every
    call and materialized with eager_cut: the pack (synthetic text
    derivation + WARC byte assembly) is test-INPUT construction, so the
    pipeline under test plans over the materialized files and lookup
    instead of over their derivation."""
    from ai_knowledge_etl_spark.registry.sources_sinks import warc_pack_files

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id", "lang", "source", F.expr(syn.PWC_TEXT_EXPR).alias("text")
    )
    clones = docs.where("doc_id % 10 = 5").select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        "lang",
        "source",
        F.expr(syn.PWC_CLONE_TEXT_EXPR).alias("text"),
    )
    corpus = base.unionByName(clones)
    files = eager_cut(warc_pack_files(corpus, syn.url_col()))
    lookup = eager_cut(corpus.select(
        syn.url_col().alias("uri"), "doc_id", "lang", "source"
    ))
    return files, lookup


@register(
    "pipeline-warc-corpus",
    _WARC_CORPUS_ORACLE.replace("{PWC_TEXT}", syn.PWC_TEXT_EXPR).replace(
        "{PWC_CLONE}", syn.PWC_CLONE_TEXT_EXPR
    ),
    doc="The Common-Crawl ENTRY pipeline end-to-end as one lazy plan "
    "(pipeline.curate_warc_corpus) — the first query a training-data "
    "user runs at 100 TB: WARC full-text scan (forward-resync past "
    "corrupted records) → Gopher repetition gates → unigram-logprob "
    "quality gate (self-trained, gate at measured tail) → corpus-wide "
    "paragraph dedup → MinHash-LSH near-dup removal (df-capped "
    "shingles, 8 sigs, 4 bands; lowest doc id survives) → DSIR "
    "importance scoring vs lang='en' → deterministic top-100. The "
    "probe corpus injects all three failure classes (spam paragraphs "
    "for the repetition gate, 'v2 '-perturbed clones that survive "
    "paragraph dedup but not LSH, every-13th-record corruption for the "
    "resync path), and the oracle replays every stage — corruption "
    "arithmetically, the rest as the composed CTEs of the individual "
    "operators' oracles. Every stage is an already-oracled operator; "
    "this proves their COMPOSITION.",
)
def q_pipeline_warc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark import pipeline as P

    files, lookup = _warc_corpus_fixture(spark, sf_dir)
    return P.curate_warc_corpus(files, lookup, lp_min=_PWC_LP_MIN)


@register(
    "pipeline-curate-corpus",
    _CURATE_ORACLE,
    doc="The pretraining-corpus curation recipe END-TO-END as one lazy "
    "plan (pipeline.curate_corpus): paragraph dedup → normalization → "
    "length gate → DSIR importance scoring vs the lang='en' slice → "
    "deterministic top-100. Every stage is an already-oracled operator; "
    "this query differentially proves their COMPOSITION (stage seams are "
    "where column/row-semantics bugs hide). Plan: fingerprint window + "
    "codegen'd normalizer + one tokenize pass + 4096-row broadcast + "
    "TakeOrderedAndProject.",
)
def q_pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark import pipeline as P

    docs = _docs(spark, sf_dir)
    pdocs = docs.select("doc_id", F.expr(syn.PARA_TEXT_EXPR).alias("ptext"))
    return P.curate_corpus(pdocs, docs.select("doc_id", "lang"))


# --- normalization kernel -------------------------------------------------------


@register(
    "udf-normalize-text",
    f"""
WITH {syn.UNI_DOCS_CTE}
SELECT doc_id,
       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm,
       CAST(length(trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_norm_chars
FROM udocs
""".strip(),
    doc="Text normalization kernel (lowercase → punctuation strip → "
    "whitespace collapse) — the canonical pre-dedup normalizer "
    "(dedup.normalize_text applies the same chain before fingerprinting). "
    "Runs over the unicode probe corpus (syn.uni_docs): the +30M clones "
    "carry CJK / non-BMP emoji / combining marks, so codepoint-vs-byte "
    "(and UTF-16-surrogate) confusions in the strip/collapse chain break "
    "the hash. Pure JVM regexp chain, whole-stage codegen, zero shuffle.",
)
def q_udf_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return syn.uni_docs(_docs(spark, sf_dir)).select(
        "doc_id",
        norm.alias("norm"),
        F.length(norm).cast("bigint").alias("n_norm_chars"),
    )


# --- exact-substring duplication census ------------------------------------------


@register(
    "dedup-substring-span",
    f"""
WITH {syn.UNI_DOCS_CTE},
pdocs AS (SELECT doc_id, {syn.PARA_TEXT_EXPR} AS ptext FROM udocs),
toks AS (SELECT doc_id, string_split(ptext, ' ') AS ws FROM pdocs),
wins AS MATERIALIZED (
  SELECT doc_id, i AS pos,
         md5(array_to_string(ws[i:i+4], ' ')) AS fp
  FROM toks, unnest(generate_series(1, greatest(len(ws) - 4, 1))) t(i)
),
counts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows
  FROM wins GROUP BY doc_id
),
n_own AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_own FROM (
    SELECT min(doc_id) AS doc_id FROM wins GROUP BY fp
  ) GROUP BY doc_id
)
SELECT c.doc_id, c.n_windows,
       CAST(c.n_windows - coalesce(o.n_own, 0) AS BIGINT) AS n_dup_windows,
       CAST((c.n_windows - coalesce(o.n_own, 0)) * 1000
            // c.n_windows AS BIGINT) AS dup_permille
FROM counts c LEFT JOIN n_own o USING (doc_id)
""".strip(),
    doc="Exact-substring duplication census (Lee et al. 2022, public — "
    "the dedup tier between paragraph-exact and MinHash-fuzzy): every "
    "5-token window is fingerprinted and owned by its first corpus "
    "occurrence (min doc_id per fingerprint — exact for any document "
    "length, unlike an integer (id,pos) fold, and per doc n_dup = "
    "n_windows − #fps owned, so the corpus-sized window table is never "
    "joined back); windows "
    "whose owner is elsewhere are duplicate spans, reported per doc as "
    "counts + an integer per-mille ratio. The paragraph probe's shared "
    "boilerplate footers create genuine cross-document duplicate spans. "
    "Fixed-k window fingerprints are the standard distributed "
    "approximation of the paper's suffix-array construction: md5 keys "
    "are constant-width, the ownership aggregate partial-combines hot "
    "boilerplate fingerprints map-side (the paragraph-dedup argument), "
    "and the join back is fp-keyed equi — no pairwise stage at any "
    "scale.",
)
def q_dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = syn.uni_docs(_docs(spark, sf_dir)).select(
        "doc_id", F.expr(syn.PARA_TEXT_EXPR).alias("ptext")
    )
    return CU.duplicate_window_census(docs, "doc_id", "ptext", k=5)


# Explicitly DECOMPOSED sequences (combining acute/cedilla/ring after
# their base letters): the uni_docs probes are already NFC-stable, so
# these clones (+60M ids) are the normalizer's true positives — NFC
# composes each pair into its precomposed character.
_NFC_DECOMP = (
    "e\u0301tude franc\u0327aise a\u030A la cafe\u0301 "
)


@register(
    "udf-normalize-nfc",
    f"""
WITH {syn.UNI_DOCS_CTE},
ndocs AS (
  SELECT doc_id, text FROM udocs
  UNION ALL
  SELECT doc_id + 60000000 AS doc_id, '{_NFC_DECOMP}' || text AS text
  FROM documents WHERE doc_id % 11 = 4
)
SELECT doc_id,
       nfc_normalize(text) <> text AS changed,
       CAST(length(text) AS BIGINT) AS n_raw,
       CAST(length(nfc_normalize(text)) AS BIGINT) AS n_nfc,
       md5(nfc_normalize(text)) AS fp_nfc
FROM ndocs
""".strip(),
    doc="Unicode NFC normalization over the multibyte probe corpus — the "
    "canonical pre-dedup step for real web text: visually identical "
    "strings with composed vs decomposed accents (the probe's 'café́' "
    "carries a combining acute) fingerprint differently until both sides "
    "are NFC. Spark has no built-in normalizer, so this is an "
    "Arrow-batched pandas UDF over stdlib unicodedata; the oracle is "
    "DuckDB's NATIVE nfc_normalize — two independent Unicode "
    "implementations (Python's unicodedata vs DuckDB's utf8proc) must "
    "agree on every changed flag, char count, and normalized "
    "fingerprint, which also pins the Unicode-version assumption. "
    "Scale: stateless per-row Arrow batches, no shuffle.",
)
def q_udf_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no inline type hints: `from __future__ import annotations` turns
    # them into strings, which pandas_udf cannot resolve (training.py
    # precedent)
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if t is not None
            else None
        )

    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}

    nfc = pandas_udf(_nfc, "string")
    base = _docs(spark, sf_dir)
    decomp = base.where("doc_id % 11 = 4").select(
        (F.col("doc_id") + 60000000).alias("doc_id"),
        F.concat(F.lit(_NFC_DECOMP), F.col("text")).alias("text"),
    )
    docs = (
        syn.uni_docs(base)
        .select("doc_id", "text")
        .unionByName(decomp)
    )
    return docs.select(
        "doc_id",
        "text",
        nfc(F.col("text")).alias("__nfc"),
    ).select(
        "doc_id",
        (F.col("__nfc") != F.col("text")).alias("changed"),
        F.length("text").cast("long").alias("n_raw"),
        F.length("__nfc").cast("long").alias("n_nfc"),
        F.md5("__nfc").alias("fp_nfc"),
    )
