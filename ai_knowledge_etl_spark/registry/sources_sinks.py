"""Scans, sinks, and remaining inventory coverage (SURVEY §2.A + stragglers:
join-tree-parent-child, agg-visited-count, udf-embed-text,
dedup-embedding-cosine)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_knowledge_etl_spark import config
from ai_knowledge_etl_spark.multimodal import images as IM
from ai_knowledge_etl_spark.operators import incremental, sinks, similarity
from ai_knowledge_etl_spark.registry import register
from ai_knowledge_etl_spark.session import eager_cut, scratch_dir
from ai_knowledge_etl_spark.sources import detect
from ai_knowledge_etl_spark.sources import pdf as PDF
from ai_knowledge_etl_spark.sources import synthetic as syn
from ai_knowledge_etl_spark.sources.catalog import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _probe_import(mod: str) -> bool:
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


# The PDF/web oracles replay the deterministic *fallback* kernels (byte-window
# pager, regex boilerplate strip). If the environment gains the real library
# (pypdf / trafilatura), the Spark side upgrades to it and the SQL twin no
# longer applies — so the oracle is registered only when the fallback runs.
_HAS_PYPDF = _probe_import("pypdf")
_HAS_TRAFILATURA = _probe_import("trafilatura")


RAW_INPUT_EXPR = """
CASE doc_id % 4
  WHEN 0 THEN 'https://' || source || '.example.com/page'
  WHEN 1 THEN '/data/files/' || source || '.md'
  WHEN 2 THEN '/data/files/' || source || '/*.md'
  ELSE '/data/' || source || '/' END
""".strip()


@register(
    "scan-input-detect",
    f"""
WITH raws AS (SELECT doc_id, {RAW_INPUT_EXPR} AS raw FROM documents)
SELECT doc_id, raw,
       CASE WHEN raw LIKE 'http%' THEN 'url'
            WHEN raw LIKE '%*%' THEN 'glob'
            WHEN raw LIKE '%/' THEN 'directory'
            ELSE 'file' END AS input_type
FROM raws
""".strip(),
    doc="Input classification url/glob/directory/file "
    "(reference: DESIGN.md:492-513); sources/detect.resolve dispatches to "
    "the matching Spark reader.",
)
def q_scan_input_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    raws = _docs(spark, sf_dir).select(
        "doc_id", F.expr(RAW_INPUT_EXPR).alias("raw")
    )
    return raws.withColumn("input_type", detect.classify_input("raw"))


@register(
    "join-tree-parent-child",
    """
SELECT d.doc_id,
       CAST(d.doc_id // 10 AS BIGINT) AS parent_id,
       CAST(d.doc_id // 100 AS BIGINT) AS grandparent_id,
       CAST(d.doc_id // 100 AS STRING) || '/' || CAST(d.doc_id // 10 AS STRING)
         || '/' || CAST(d.doc_id AS STRING) AS tree_path
FROM documents d
""".strip(),
    doc="Knowledge-map tree: pages self-related on parent links, two levels "
    "up + materialized path (reference: crawler-summarizer.md:317-341; "
    "parent = id div 10 — a proper tree, unlike the modular edges).",
)
def q_join_tree_parent_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    p = F.expr("doc_id div 10")
    gp = F.expr("doc_id div 100")
    return d.select(
        "doc_id",
        p.cast("bigint").alias("parent_id"),
        gp.cast("bigint").alias("grandparent_id"),
        F.concat(
            gp.cast("string"), F.lit("/"), p.cast("string"), F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("tree_path"),
    )


@register(
    "agg-visited-count",
    f"""
WITH {syn.VISITED_CTE}
SELECT CAST(count(*) AS BIGINT) AS visited_count FROM visited
""".strip(),
    doc="Visited-set count maintained on insert "
    "(reference: scripts/crawler-queue.sh:144-148).",
)
def q_agg_visited_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return syn.visited_urls(_docs(spark, sf_dir)).agg(
        F.count("*").alias("visited_count")
    )


@register(
    "sink-markdown-pages",
    """
SELECT 'pages/' || lpad(CAST(doc_id AS STRING), 3, '0') || '_' || source || '.md' AS path,
       text AS content,
       substring(text, 1, 500) AS summary
FROM documents
""".strip(),
    doc="Per-page sink rows (path, content, 500-char summary sidecar) "
    "(reference: agents/extractor.md:376-384). Stays columnar until a local "
    "export — parquet is the canonical sink (operators/sinks.py).",
)
def q_sink_markdown_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sinks.markdown_page_rows(_docs(spark, sf_dir))


@register(
    "sink-pipe-json",
    """
SELECT '{"doc_id":' || CAST(doc_id AS STRING) || ',"source":"' || source
       || '","n_chars":' || CAST(n_chars AS STRING) || '}' AS record
FROM documents
""".strip(),
    doc="--pipe=json sink: stable-key-order JSON records "
    "(reference: agents/output-transformer.md:140-370).",
)
def q_sink_pipe_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sinks.pipe_json(_docs(spark, sf_dir))


@register(
    "scan-directory",
    """
SELECT 'file:' || filename AS path, CAST(size AS BIGINT) AS length
FROM read_blob('{SF_DIR}/*.parquet')
ORDER BY path
""".strip(),
    doc="Recursive directory scan via binaryFile with glob filtering "
    "(reference: DESIGN.md:517-565): here over the sf_dir's parquet files "
    "— path + size metadata rows, content column untouched (lazy). "
    "Oracled with DuckDB's read_blob file manifest on the same dir "
    "(VERDICT r1 #5).",
)
def q_scan_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select("path", "length")
        .orderBy("path")
    )


@register(
    "scan-glob",
    """
SELECT 'file:' || filename AS path, CAST(size AS BIGINT) AS length
FROM read_blob('{SF_DIR}/*.parquet')
ORDER BY path
""".strip(),
    doc="Glob expansion native to spark.read (reference: DESIGN.md:498-506): "
    "load('dir/*.parquet') — no separate expansion step exists or is "
    "needed. read_blob manifest oracle.",
)
def q_scan_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.format("binaryFile")
        .load(f"{sf_dir}/*.parquet")
        .select("path", "length")
        .orderBy("path")
    )


@register(
    "scan-git-repo",
    """
SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.md' AS path,
       CAST(strlen(text) AS BIGINT) AS length
FROM documents WHERE doc_id % 25 = 0
ORDER BY path
""".strip(),
    doc="Shallow clone → scan README + docs (reference: "
    "commands/extract.md:912-929). A DETERMINISTIC fixture repo is built "
    "from the documents table (one .md per doc_id%25==0, content = text "
    "bytes), committed, cloned via file://, then binaryFile-scanned — so "
    "the clone+scan path gets a real SQL oracle (byte lengths straight "
    "from documents, VERDICT r1 #5). Fixture construction is driver-side "
    "by design (bounded rows, one-time setup — the repo-under-test, not "
    "the scan); the scan itself is the distributed binaryFile reader. "
    "Falls back to scanning the source dir when git is unavailable "
    "(same files, same oracle).",
)
def q_scan_git_repo(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import subprocess
    import tempfile

    workdir = tempfile.mkdtemp(prefix="etl_gitscan_")
    src = os.path.join(workdir, "src")
    os.makedirs(src, exist_ok=True)
    rows = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 25 = 0")
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        with open(os.path.join(src, f"doc_{r['doc_id']:05d}.md"), "wb") as f:
            f.write((r["text"] or "").encode("utf-8"))
    scan_dir = src
    try:
        env = {**os.environ, "GIT_TERMINAL_PROMPT": "0"}
        subprocess.run(
            ["git", "init", "-q"], cwd=src, check=True, env=env,
            capture_output=True,
        )
        subprocess.run(
            ["git", "add", "-A"], cwd=src, check=True, env=env,
            capture_output=True,
        )
        subprocess.run(
            [
                "git", "-c", "user.email=etl@localhost",
                "-c", "user.name=etl", "commit", "-q", "-m", "fixture",
            ],
            cwd=src, check=True, env=env, capture_output=True,
        )
        clone = os.path.join(workdir, "clone")
        subprocess.run(
            ["git", "clone", "--depth", "1", "-q", f"file://{src}", clone],
            check=True, env=env, capture_output=True,
        )
        scan_dir = clone
    except Exception:
        pass  # git unavailable — scan the source dir (same files)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.md")
        .load(scan_dir)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("path"),
            "length",
        )
        .orderBy("path")
    )


_MAGIC_SQL = """
CASE WHEN doc_id % 7 <> 0 THEN 'png'
     WHEN upper(substring(hex(encode(substring(text, 1, 8))), 1, 6)) = 'FFD8FF' THEN 'jpeg'
     WHEN upper(substring(hex(encode(substring(text, 1, 8))), 1, 8)) = '89504E47' THEN 'png'
     WHEN upper(substring(hex(encode(substring(text, 1, 8))), 1, 8)) = '47494638' THEN 'gif'
     WHEN upper(substring(hex(encode(substring(text, 1, 8))), 1, 8)) = '52494646' THEN 'webp'
     ELSE 'invalid' END
""".strip()


@register(
    "scan-image-download",
    f"""
WITH imgs AS (
  SELECT 'img_' || CAST(doc_id AS VARCHAR) AS path, {_MAGIC_SQL} AS fmt
  FROM documents
)
SELECT path, fmt FROM imgs WHERE fmt <> 'invalid'
ORDER BY path LIMIT 15
""".strip(),
    doc="Image download-and-validate (reference: commands/extract.md:470-546): "
    "fake downloaded bytes → magic-byte verification drops invalid files → "
    "session cap. The fetch half is the same executor kernel as "
    "scan-web-jina; validation is pure column work over the binary column. "
    "Oracle replays the magic-byte sniff over the documents text bytes "
    "(the fake-binary generator's input), so format detection itself is "
    "differential-checked.",
)
def q_scan_image_download(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark import config as cfg
    from ai_knowledge_etl_spark.operators import topk as TK

    imgs = _fake_binaries(spark, sf_dir)
    validated = imgs.select(
        "path",
        IM.image_format("content").alias("fmt"),
    ).where(F.col("fmt") != "invalid")
    return TK.top_k(validated, cfg.IMAGES_PER_SESSION_CAP, F.asc("path"))


# DuckDB replay of the demo_fetcher + regex boilerplate strip + obstacle
# classify + frontmatter wrap (sources/web.py fetch_pipeline). The fetched
# page is a pure function of h = sum(ord(c) for c in url), so the whole
# executor-side kernel is SQL-expressible; registered only while trafilatura
# is absent (its presence upgrades the strip kernel beyond the regex twin).
def _web_oracle(url_slice_sql: str) -> str:
    return f"""
WITH {syn.LINKS_CTE},
sel AS ({url_slice_sql}),
routed AS (
  SELECT url FROM sel
  WHERE NOT regexp_matches(lower(url), '{config.URL_SKIP_EXT_RE}')
    AND NOT regexp_matches(lower(url), '{config.URL_SKIP_PATH_RE}')
),
hashed AS (
  SELECT url,
         list_sum(list_transform(range(1, length(url) + 1),
                                 i -> ord(substring(url, i, 1)))) AS h
  FROM routed
),
fetched AS (
  SELECT url,
         CASE WHEN h % 13 = 0 THEN NULL
              WHEN h % 11 = 0 THEN trim(repeat('please log in to continue ', 10))
              ELSE 'Page ' || CAST(h % 1000 AS VARCHAR)
                   || repeat(' spark shuffle join content', CAST(h % 7 AS INTEGER) + 1)
         END AS text,
         CASE WHEN h % 13 = 0
              THEN 'RuntimeError: ConnectionError: synthetic 404 for ' || url
              ELSE CAST(NULL AS VARCHAR) END AS error
  FROM hashed
)
SELECT url, text, error,
       CASE WHEN length(trim(coalesce(text, ''))) < {config.OBSTACLE_MIN_CHARS} THEN 'ANTI_SCRAPE'
            WHEN regexp_matches(lower(coalesce(text, '')), '{config.OBSTACLE_LOGIN_RE}') THEN 'LOGIN_REQUIRED'
            WHEN regexp_matches(lower(coalesce(text, '')), '{config.OBSTACLE_CAPTCHA_RE}') THEN 'CAPTCHA'
            WHEN regexp_matches(lower(coalesce(text, '')), '{config.OBSTACLE_ANTIBOT_RE}') THEN 'ANTI_BOT'
            ELSE 'NONE' END AS obstacle,
       '---' || chr(10) || 'source: ' || url || chr(10)
         || 'engine: spark-etl' || chr(10) || '---' || chr(10)
         || coalesce(text, '') AS doc
FROM fetched
""".strip()


@register(
    "scan-web-trafilatura",
    None
    if _HAS_TRAFILATURA
    else _web_oracle(
        "SELECT url FROM links WHERE doc_id >= 40 AND doc_id < 80"
    ),
    doc="Local boilerplate-removal extraction path (reference: "
    "scripts/extract-trafilatura.sh:46-63): same fetch pipeline, with the "
    "strip kernel (trafilatura when importable, regex fallback) doing the "
    "content isolation; distinct URL slice from scan-web-jina. Oracle "
    "replays the deterministic fetcher + regex strip, auto-withdrawn if "
    "trafilatura becomes importable.",
)
def q_scan_web_trafilatura(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.sources import web

    links = syn.with_links_columns(load_table(spark, sf_dir, "documents"))
    urls = (
        links.where("doc_id >= 40 AND doc_id < 80")
        .orderBy("doc_id")
        .select("url")
    )
    return web.fetch_pipeline(
        urls, web.demo_fetcher, interval_s=0.0, n_domain_partitions=8
    )


@register(
    "scan-web-jina",
    None
    if _HAS_TRAFILATURA
    else _web_oracle("SELECT url FROM links ORDER BY doc_id LIMIT 40"),
    doc="Web extraction pipeline end-to-end over a deterministic offline "
    "fetcher (reference: scripts/extract-jina.sh, commands/extract.md:"
    "445-559): security route → skip filter → per-domain paced fetch with "
    "retry/backoff → boilerplate strip → obstacle classify → frontmatter "
    "doc; failures land as error records.",
)
def q_scan_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.sources import web

    links = syn.with_links_columns(load_table(spark, sf_dir, "documents"))
    urls = links.orderBy("doc_id").limit(40).select("url")
    return web.fetch_pipeline(urls, web.demo_fetcher, interval_s=0.0, n_domain_partitions=8)


# --- image pipeline (SURVEY §2.I udf-compress/classify/describe-image) ---------

_TIER_SQL = """
CASE WHEN length * (800.0*800.0) / (800.0*800.0) <= 100000 THEN 800
     WHEN length * (640.0*640.0) / (800.0*800.0) <= 100000 THEN 640
     WHEN length * (480.0*480.0) / (800.0*800.0) <= 100000 THEN 480
     WHEN length * (400.0*400.0) / (800.0*800.0) <= 100000 THEN 400
     WHEN length * (400.0*400.0) / (800.0*800.0) <= 300000 THEN 400
     ELSE 0 END
""".strip()


@register(
    "udf-compress-image",
    f"""
WITH imgs AS (
  SELECT p_partkey AS img_id,
         CAST(p_retailprice * p_size * 20 AS DOUBLE) AS length
  FROM part
)
SELECT img_id, CAST({_TIER_SQL} AS INTEGER) AS tier
FROM imgs
""".strip(),
    doc="Compression fallback-tier selection 800→640→480→400 px against the "
    "100 KB target / 300 KB fallback (reference: compress-image.mjs:49-97, "
    "content-safeguard limits.yaml:4-9). Pure arithmetic over the metadata "
    "column — pixel work is the import-gated kernel in multimodal/images.py.",
)
def q_udf_compress_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("img_id"),
        (F.col("p_retailprice") * F.col("p_size") * 20)
        .cast("double")
        .alias("length"),
    )
    return imgs.select("img_id", IM.compress_tier("length").alias("tier"))


def _compress_real_oracle() -> str:
    """Expected table for udf-compress-image-real, computed by replaying
    the SAME pure walk (images.walk_tiers over images.render_compress_card)
    sequentially in the driver and baking the results into a VALUES
    oracle. Lazy (registry.oracle_fn): the replay runs the real JPEG
    encoder over every card (~seconds), so it must not tax registry
    import; it is process-cached after first resolution. The differential
    therefore proves the DISTRIBUTED path — binary columns through Arrow
    batches, per-executor numpy/codec determinism, partitioning — equals
    the sequential ground truth byte-for-byte (sizes AND magic bytes)."""
    from ai_knowledge_etl_spark.multimodal import images as IM

    rows = []
    for i in range(IM.N_COMPRESS_CARDS):
        tier, best, err = IM.walk_tiers(IM.render_compress_card(i))
        rows.append(
            "(%d, %s, %s, %s, %s)"
            % (
                i,
                "NULL" if tier is None else tier,
                "NULL" if best is None else len(best),
                "NULL" if best is None else "'%s'" % best[:3].hex(),
                "NULL" if err is None else "'%s'" % err.replace("'", "''"),
            )
        )
    return (
        "SELECT CAST(img_id AS BIGINT) AS img_id, "
        "CAST(tier AS INTEGER) AS tier, "
        "CAST(out_bytes AS INTEGER) AS out_bytes, "
        "CAST(magic_hex AS VARCHAR) AS magic_hex, "
        "CAST(error AS VARCHAR) AS error "
        f"FROM (VALUES {', '.join(rows)}) "
        "t(img_id, tier, out_bytes, magic_hex, error)"
    )


@register(
    "udf-compress-image-real",
    None,
    doc="The compression fallback chain over REAL LOSSY BYTES (round-7 "
    "verdict #4; reference: compress-image.mjs:49-97 — sharp resize → "
    "jpeg q80): deterministic probe PNGs (noise/gradient/small/garbage "
    "classes) are decoded, resized and re-encoded through the vendored "
    "baseline-JPEG codec (multimodal/minijpeg, ITU-T T.81 subset) inside "
    "an Arrow mapInPandas kernel, walking 800→640→480→400 until the "
    "encode fits 100 KB (300 KB last-chance); garbage bytes become E003 "
    "rows. The oracle is the driver-side sequential replay of the same "
    "walk baked into a VALUES table (lazy oracle_fn) — real encoded "
    "sizes and JPEG magic bytes, hash-compared. Complements "
    "udf-compress-image, which oracles the metadata-only tier-model "
    "arithmetic at corpus scale.",
    oracle_fn=_compress_real_oracle,
)
def q_udf_compress_image_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = spark.range(IM.N_COMPRESS_CARDS).select(
        F.col("id").cast("long").alias("img_id")
    )
    return IM.compress_cards_real(ids)


# One real image per 25 documents (r9 verdict #7): the population now
# SCALES with the fixture instead of a fixed 20 — sf0.01 keeps exactly
# the historical 20-image surface (500 docs // 25), sf0.1 walks 200 real
# JPEG ladders, the 10× distinct sweep walks 2000 — so the scale gate
# exercises real codec growth. img_id = doc_id // 25 stays DENSE, which
# preserves the card cycling (img_id % N_COMPRESS_CARDS covers every
# card) and the planted exact twins (same card every N_CARDS ids).
# 25 is a cost choice: the pure-Python ladder costs ~0.55 s/image, so
# denser sampling would put minutes of codec work inside the sf0.1
# bench window.
_PIPE_IMG_REAL_EVERY = 25


def _image_curate_real_oracle() -> str:
    """Expected rollup for pipeline-image-curate-real, sf-aware (r9
    verdict #7): the per-card facts (tier, encoded bytes, md5, error)
    come from a sequential driver replay of the real JPEG ladder
    (walk_tiers over render_compress_card, each unique card walked once,
    baked into a VALUES table); the POPULATION fan-out, exact dedup on
    encoded-output md5 (keep lowest img_id) and bucket rollup run in SQL
    against the documents table — so the oracle follows the fixture's
    size instead of hard-coding a population. The duplicate branch is an
    ungrouped global aggregate on BOTH sides (r9 ADVICE), so each emits
    exactly one rejected:duplicate row — n=0 included — even when no
    twins exist. Lazy (oracle_fn) because the replay runs the real codec
    (~seconds); process-cached after first resolution."""
    import hashlib

    from ai_knowledge_etl_spark.multimodal import images as IM

    card_rows = []
    for c in range(IM.N_COMPRESS_CARDS):
        tier, best, err = IM.walk_tiers(IM.render_compress_card(c))
        card_rows.append(
            (
                c,
                "NULL" if tier is None else str(tier),
                "NULL" if best is None else str(len(best)),
                "NULL"
                if best is None
                else f"'{hashlib.md5(best).hexdigest()}'",
                "NULL" if err is None else f"'{err}'",
            )
        )
    values = ", ".join(
        f"({c}, {t}, {nb}, {md5}, {e})" for c, t, nb, md5, e in card_rows
    )
    return f"""
WITH cards(card, tier, out_bytes, out_md5, error) AS (VALUES {values}),
pop AS (
  SELECT doc_id // {_PIPE_IMG_REAL_EVERY} AS img_id,
         (doc_id // {_PIPE_IMG_REAL_EVERY}) % {IM.N_COMPRESS_CARDS} AS card
  FROM documents WHERE doc_id % {_PIPE_IMG_REAL_EVERY} = 0
),
walked AS (SELECT p.img_id, c.tier, c.out_bytes, c.out_md5, c.error
           FROM pop p JOIN cards c USING (card)),
ok AS (SELECT * FROM walked WHERE error IS NULL),
keepers AS (SELECT out_md5 AS keep_md5, min(img_id) AS keep_id
            FROM ok GROUP BY out_md5),
kept AS (SELECT o.tier, o.out_bytes FROM ok o JOIN keepers k
         ON o.out_md5 = k.keep_md5 AND o.img_id = k.keep_id),
tiers AS (
  SELECT 'tier:' || CAST(tier AS VARCHAR) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(out_bytes) AS BIGINT) AS total_bytes
  FROM kept GROUP BY tier
),
dupes AS (
  SELECT 'rejected:duplicate' AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(out_bytes), 0) AS BIGINT) AS total_bytes
  FROM ok o WHERE NOT EXISTS (
    SELECT 1 FROM keepers k
    WHERE o.out_md5 = k.keep_md5 AND o.img_id = k.keep_id)
),
invalid AS (
  SELECT CASE WHEN error LIKE 'E003%' THEN 'rejected:invalid'
              ELSE 'rejected:oversize' END AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(0 AS BIGINT) AS total_bytes
  FROM walked WHERE error IS NOT NULL GROUP BY 1
)
SELECT * FROM tiers UNION ALL SELECT * FROM dupes
UNION ALL SELECT * FROM invalid
""".strip()


@register(
    "pipeline-image-curate-real",
    None,
    doc="Image curation with the REAL LOSSY TIER CHAIN composed in "
    "(round-8 verdict #4; reference: compress-image.mjs:49-97 + "
    "commands/extract.md:519-554): the population derives from the "
    "documents table — one image per 25 docs, img_id = doc_id // 25 "
    "(r9 verdict #7: 20 images at sf0.01, 200 at sf0.1, 2000 at the "
    "10x sweep), each mapping onto probe card img_id % N_CARDS so "
    "every card recurs (planted exact twins); every image "
    "renders and walks the genuine minijpeg 800→640→480→400 q80 ladder "
    "in an Arrow mapInPandas kernel (garbage cards → E003 error rows, "
    "error-as-data), EXACT dedup then runs over the md5 of the ACTUAL "
    "encoded bytes (keep-lowest-id, one hash aggregate + one broadcast "
    "join back), and the rollup buckets by kept-tier / duplicate / "
    "invalid with real encoded byte totals. The oracle is the "
    "sequential driver replay of the same composition (lazy VALUES "
    "table): matching proves the distributed codec walk AND the "
    "byte-level dedup agree with ground truth — the composed twin of "
    "udf-compress-image-real, closing the gap where the curate "
    "pipeline rode lossless-PNG hashing while the JPEG ladder existed "
    "only standalone. Sibling pipeline-image-curate keeps the "
    "corpus-scale phash/LSH arithmetic oracle.",
    oracle_fn=_image_curate_real_oracle,
)
def q_pipeline_image_curate_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ids = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % _PIPE_IMG_REAL_EVERY == 0)
        .select(
            (F.col("doc_id") / _PIPE_IMG_REAL_EVERY)
            .cast("long")
            .alias("img_id")
        )
        # the ladder kernel is CODEC-bound (~0.55 s/image): the filtered
        # documents scan collapses to one parquet split, which would
        # serialize every walk on one core (measured: 109 s for 200
        # images at sf0.1). Round-robin repartition spreads rows across
        # the executor cores; the shuffle moves only 8-byte ids.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # eager cut (the warc-corpus discipline): the codec walk feeds the
    # keeper aggregate, the kept join, and both rejection rollups —
    # uncut, each consumer re-runs the whole render+ladder kernel
    res = eager_cut(IM.curate_cards_real(ids))
    ok = res.where(F.col("error").isNull())
    # renamed keeper keys: a raw self-derived join on out_md5 == out_md5
    # trips Spark's ambiguous-self-join resolution (it works, with a
    # trivially-true-predicate warning) — explicit names are unambiguous
    keepers = ok.groupBy(
        F.col("out_md5").alias("keep_md5")
    ).agg(F.min("img_id").alias("keep_id"))
    kept = ok.join(
        F.broadcast(keepers),
        (F.col("out_md5") == F.col("keep_md5"))
        & (F.col("img_id") == F.col("keep_id")),
    ).select("tier", "out_bytes")
    tiers = kept.groupBy(
        F.concat(F.lit("tier:"), F.col("tier").cast("string")).alias(
            "bucket"
        )
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("out_bytes").cast("long").alias("total_bytes"),
    )
    dupes = (
        ok.join(
            F.broadcast(keepers),
            (F.col("out_md5") == F.col("keep_md5"))
            & (F.col("img_id") == F.col("keep_id")),
            "left_anti",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.sum("out_bytes").cast("long"), F.lit(0)).alias(
                "total_bytes"
            ),
        )
        .select(F.lit("rejected:duplicate").alias("bucket"), "n", "total_bytes")
    )
    invalid = (
        res.where(F.col("error").isNotNull())
        .groupBy(
            F.when(
                F.col("error").startswith("E003"), "rejected:invalid"
            ).otherwise("rejected:oversize").alias("bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.lit(0).cast("long").alias("total_bytes"),
        )
    )
    return tiers.unionByName(dupes).unionByName(invalid)


def _fake_binaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic binary column: PNG magic + utf8 text bytes for most
    rows, garbage for doc_id % 7 = 0 (drives the error-as-data paths)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("img_"), F.col("doc_id").cast("string")).alias("path"),
        F.when(
            F.expr("doc_id % 7 = 0"), F.encode(F.col("text"), "utf-8")
        )
        .otherwise(
            F.concat(F.unhex(F.lit("89504E470D0A1A0A")), F.encode("text", "utf-8"))
        )
        .alias("content"),
    )


# hex of the fake binary column, as DuckDB sees it: hex(blob) is uppercase
# in both engines, so prefix sniffing and md5-over-hex evaluate identically.
_FAKE_HEX_CTE = """
imgs AS (
  SELECT 'img_' || CAST(doc_id AS VARCHAR) AS path,
         CASE WHEN doc_id % 7 = 0 THEN hex(encode(text))
              ELSE '89504E470D0A1A0A' || hex(encode(text)) END AS hx,
         CASE WHEN doc_id % 7 = 0 THEN octet_length(encode(text))
              ELSE 8 + octet_length(encode(text)) END AS nbytes
  FROM documents
)
""".strip()

_FMT_SQL = """
CASE WHEN substring(hx, 1, 8) = '89504E47' THEN 'png'
     WHEN substring(hx, 1, 6) = 'FFD8FF' THEN 'jpeg'
     WHEN substring(hx, 1, 8) = '47494638' THEN 'gif'
     WHEN substring(hx, 1, 8) = '52494646' THEN 'webp'
     ELSE 'invalid' END
""".strip()

# md5 of the hex string → first 2 hex chars → int % 8 → category (the
# classify_image_stub function, transliterated; DuckDB lacks conv() so the
# two hex digits are decoded by strpos arithmetic)
_MD5_IDX_SQL = (
    "((strpos('0123456789abcdef', substring(md5(hx), 1, 1)) - 1) * 16 + "
    "strpos('0123456789abcdef', substring(md5(hx), 2, 1)) - 1) % "
    f"{len(IM.IMAGE_CATEGORIES)}"
)

_CATEGORY_SQL = (
    "CASE " + " ".join(
        f"WHEN ({_MD5_IDX_SQL}) = {i} THEN '{cat}'"
        for i, cat in enumerate(IM.IMAGE_CATEGORIES)
    ) + " END"
)


@register(
    "udf-classify-image",
    f"""
WITH {_FAKE_HEX_CTE}
SELECT path, {_CATEGORY_SQL} AS category
FROM imgs WHERE ({_FMT_SQL}) <> 'invalid'
""".strip(),
    doc="8-class image categorization over a binary column "
    "(reference: DESIGN.md:1133-1141): deterministic md5 stub standing in "
    "for the vision-model kernel. Valid-magic rows only. Routed through "
    "models.classify_images — a vision ModelKernel drops in via kernel= "
    "with the same schema (tests/test_model_seam.py). Oracle replays the "
    "md5-over-hex categorization on the identical fake binaries.",
)
def q_udf_classify_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark import models

    return models.classify_images(_fake_binaries(spark, sf_dir))


@register(
    "udf-describe-image",
    f"""
WITH {_FAKE_HEX_CTE},
sniffed AS (SELECT path, nbytes, {_FMT_SQL} AS fmt FROM imgs)
SELECT path,
       CASE WHEN fmt = 'invalid' THEN NULL
            ELSE '[' || fmt || ' image, ' || CAST(nbytes AS VARCHAR) || ' bytes]'
       END AS description,
       CASE WHEN fmt = 'invalid' THEN 'E003: unreadable image (bad magic)'
            ELSE CAST(NULL AS VARCHAR) END AS error
FROM sniffed
""".strip(),
    doc="Anti-fabrication image describe: valid bytes → structural "
    "description, invalid bytes → E003 error record, never a made-up "
    "description (reference: image-analyzer.md:193-240). Routed through "
    "models.describe_images — same seam as the vision kernel. Oracle "
    "replays the magic sniff + byte-count description on the identical "
    "fake binaries.",
)
def q_udf_describe_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark import models

    return models.describe_images(_fake_binaries(spark, sf_dir))


_PDF_ORACLE = f"""
WITH pdfs AS (
  SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.pdf' AS path,
         doc_id % 11 = 0 AS garbage,
         octet_length(encode(
           CASE WHEN doc_id % 11 = 0 THEN 'GARBAGE ' ELSE '%PDF-1.4 ' END
           || repeat(text, 10))) AS nbytes
  FROM documents
),
paged AS (
  SELECT path, nbytes,
         unnest(range(1, greatest(1, least(nbytes // 1024, {PDF.PDF_PAGE_CAP})) + 1)) AS page_no
  FROM pdfs WHERE NOT garbage
)
SELECT path, CAST(page_no AS INTEGER) AS page_no,
       '[pdf page ' || CAST(page_no AS VARCHAR) || ': '
         || CAST(nbytes AS VARCHAR) || ' bytes]' AS page_text,
       CAST(NULL AS VARCHAR) AS error
FROM paged
UNION ALL
SELECT path, 0, NULL, 'E004: not a PDF (bad magic)'
FROM pdfs WHERE garbage
""".strip()


# one WARC record per doc; every 13th record's magic is clobbered so the
# parser's corruption-resync path has true positives. CRLFs via chr(13/10).
_WARC_REC_DUCK = f"""
CASE WHEN doc_id % 13 = 0 THEN 'GARBAGE!' ELSE 'WARC/1.0' END
|| chr(13) || chr(10) || 'WARC-Type: response'
|| chr(13) || chr(10) || 'WARC-Target-URI: ' || ({syn.URL_EXPR})
|| chr(13) || chr(10) || 'Content-Length: '
|| CAST(octet_length(encode(text)) AS VARCHAR)
|| chr(13) || chr(10) || chr(13) || chr(10) || text
|| chr(13) || chr(10) || chr(13) || chr(10)
""".strip()


def warc_pack_files(
    docs: DataFrame,
    uri,
    id_col: str = "doc_id",
    text_col: str = "text",
    corrupt_pred: str = "doc_id % 13 = 0",
    file_expr: str = "doc_id % 125",
) -> DataFrame:
    """Pack (id, text) rows into synthetic WARC file blobs — N records per
    file (grouped by `file_expr`, ordered by id), every `corrupt_pred` row's
    magic clobbered so parsers must exercise forward-resync. Shared by
    scan-warc and pipeline-warc-corpus; the oracles replay the corruption
    arithmetically (id-predicate) instead of re-parsing bytes."""
    crlf = F.lit("\r\n")
    rec = F.concat(
        F.when(F.expr(corrupt_pred), F.lit("GARBAGE!")).otherwise(
            F.lit("WARC/1.0")
        ),
        crlf,
        F.lit("WARC-Type: response"),
        crlf,
        F.lit("WARC-Target-URI: "),
        uri,
        crlf,
        F.lit("Content-Length: "),
        F.octet_length(text_col).cast("string"),
        crlf,
        crlf,
        F.col(text_col),
        crlf,
        crlf,
    )
    return (
        docs.select(
            F.expr(file_expr).alias("file_id"),
            F.col(id_col).alias("__id"),
            rec.alias("rec"),
        )
        .groupBy("file_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__id", "rec"))),
                    lambda s: s.getField("rec"),
                ),
                "",
            ).alias("blob_str")
        )
        .select(
            F.col("file_id").cast("bigint").alias("file_id"),
            F.encode("blob_str", "utf-8").alias("content"),
        )
    )



@register(
    "scan-warc",
    f"""
WITH {syn.UNI_DOCS_CTE},
recs AS (
  SELECT doc_id, doc_id % 125 AS file_id,
         ({syn.URL_EXPR}) AS uri,
         CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
         octet_length(encode({_WARC_REC_DUCK})) AS rec_len,
         doc_id % 13 = 0 AS corrupt,
         substring(text, 1, 40) AS head
  FROM udocs
),
offs AS (
  SELECT *, CAST(coalesce(sum(rec_len) OVER (
             PARTITION BY file_id ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER)
           AS rec_offset
  FROM recs
)
SELECT CAST(file_id AS BIGINT) AS file_id, uri, n_bytes, head, rec_offset
FROM offs WHERE NOT corrupt
""".strip(),
    doc="WARC record scanning (Common-Crawl-shaped ingestion; the 100 TB "
    "arrival format of the reference's live-page content, "
    "commands/extract.md:445-559): documents are packed 4-per-file into "
    "real WARC bytes (headers + Content-Length-delimited payloads), then "
    "sources/warc.py's single-pass parser splits them back out via "
    "Arrow-batched mapInPandas — corrupted records (clobbered magic, "
    "every 13th) are skipped by forward-resync without killing the file. "
    "The oracle regenerates every surviving record's (uri, n_bytes, "
    "head, byte offset) arithmetically — offsets via an exclusive "
    "running sum of record lengths — so the parser is differentially "
    "proven including the resync path. Packs the unicode probe corpus "
    "(syn.uni_docs): multibyte payloads make Content-Length a true "
    "byte count distinct from the char count, and the %3==1 clones put "
    "emoji at chars 39-41 so the 40-char head decode must cut on a "
    "codepoint boundary (sources/warc.py bounded 164-byte decode).",
)
def q_scan_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.sources import warc

    docs = syn.uni_docs(_docs(spark, sf_dir))
    files = warc_pack_files(docs, syn.url_col())
    return warc.scan_warc(files)


@register(
    "scan-pdf",
    None if _HAS_PYPDF else _PDF_ORACLE,
    doc="Page-capped PDF scan over binary columns (reference: "
    "DESIGN.md:686-697, ≤15 pages): pypdf when available, deterministic "
    "byte-window fallback otherwise; bad magic → E004 error record. The "
    "oracle replays the byte-window pager (1 page per KiB, capped) and is "
    "auto-withdrawn if pypdf becomes importable.",
)
def q_scan_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pdfs = docs.select(
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit(".pdf")).alias(
            "path"
        ),
        F.encode(
            F.concat(
                F.when(F.expr("doc_id % 11 = 0"), F.lit("GARBAGE ")).otherwise(
                    F.lit("%PDF-1.4 ")
                ),
                F.expr("repeat(text, 10)"),
            ),
            "utf-8",
        ).alias("content"),
    )
    return PDF.pdf_pages(pdfs)


# deterministic 8-dim text embedding: ascii codes sampled from the
# normalized text (a stub embedder — a model UDF slots behind the same
# signature; what matters is the array<double> column contract)
_EMB_DIMS = 8


@register(
    "udf-embed-text",
    "SELECT doc_id, "
    + ", ".join(
        f"round((ascii(substring(text, {i * 3 + 1}, 1)) % 32) / 32.0"
        f" + {i}.0 / {_EMB_DIMS}, 6) AS emb_{i}"
        for i in range(_EMB_DIMS)
    )
    + "\nFROM documents",
    doc="Deterministic text → embedding stub (north-star udf-embed-text). "
    "Registered output is one DOUBLE column per dimension (emb_0..emb_7) "
    "because the driver's pandas canonicalizer cannot hash list cells; "
    "the array<double> column contract itself is exercised by "
    "embed_text_array() (consumed by udf-embed-quantize-int8 and "
    "tests/test_functions.py). Parity note in registry/__init__: oracled "
    "queries must not emit top-level array/map/struct columns.",
)
def q_udf_embed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        *[
            F.round(
                (F.ascii(F.substring("text", i * 3 + 1, 1)) % 32) / 32.0
                + i / _EMB_DIMS,
                6,
            ).alias(f"emb_{i}")
            for i in range(_EMB_DIMS)
        ],
    )


def embed_text_array(df: DataFrame) -> DataFrame:
    """The array<double> embedding contract for model embedders.

    Kept as a composable operator (not a registered/oracled output shape):
    the driver canonicalizer cannot hash list cells, so registered queries
    project per-dim columns instead (see q_udf_embed_text).
    """
    return df.select(
        "doc_id",
        F.array(
            *[
                (F.ascii(F.substring("text", i * 3 + 1, 1)) % 32) / 32.0
                + i / _EMB_DIMS
                for i in range(_EMB_DIMS)
            ]
        ).alias("embedding"),
    )


# embedding corpus with injected near-duplicate vectors (×1.01 — same sign
# bucket, cosine ≈ 1.0; random pairs stay < 0.5)
EMB_DUP_CTE = """
emb_corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
  FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.01) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
)
""".strip()

_BUCKET8_SQL = " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {2 ** i} ELSE 0 END" for i in range(8)
)

_COS_PAIR_SQL = """
list_sum(list_transform(generate_series(1, len(a.embedding)),
         i -> a.embedding[i] * b.embedding[i]))
/ (sqrt(list_sum(list_transform(a.embedding, x -> x * x)))
   * sqrt(list_sum(list_transform(b.embedding, x -> x * x))))
""".strip()


def _emb_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of EMB_DUP_CTE: embeddings plus scaled near-duplicates."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    near = emb.where("vec_id % 10 = 0").select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.01).alias(
            "embedding"
        ),
    )
    return base.unionByName(near)


@register(
    "dedup-embedding-cosine",
    f"""
WITH {EMB_DUP_CTE},
bucketed AS (
  SELECT vec_id, embedding, CAST({_BUCKET8_SQL} AS INTEGER) AS bucket FROM emb_corpus
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_PAIR_SQL} AS cos
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos, 4) AS cos_sim
FROM pairs WHERE cos >= 0.95
""".strip(),
    doc="Embedding-cosine near-dup detection (north-star dedup tier 5): "
    "sign-LSH bucket join bounds candidates, cosine ≥ 0.95 confirms. "
    "At 100 TB the bucket join is the only shuffle.",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _emb_dup_corpus(spark, sf_dir)
    # per-VECTOR norm, not per pair (r11, the semantic_dedup cut):
    # cosine = dot / (sqrt(ssq_a) * sqrt(ssq_b)) — precomputing each
    # side's sqrt(sq_norm) once leaves one interpreted array fold per
    # candidate pair instead of three; the float result is bit-identical
    # (same ops, same order, just evaluated before the join)
    bucketed = corpus.withColumn(
        "bucket", similarity.sign_bucket(F.col("embedding"), 8)
    ).withColumn("__n", F.sqrt(similarity._sq_norm(F.col("embedding"))))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    cos = similarity._dot(
        F.col("a.embedding"), F.col("b.embedding")
    ) / (F.col("a.__n") * F.col("b.__n"))
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cos.alias("cos"),
    )
    return pairs.where(F.col("cos") >= 0.95).select(
        "vec_a", "vec_b", F.round("cos", 4).alias("cos_sim")
    )


# --- incremental / cache (reference roadmap DESIGN.md:1664,1693-1694) -----------


@register(
    "sink-incremental-upsert",
    """
WITH existing AS (
  SELECT doc_id, source, 1 AS rev, md5(text) AS fp FROM documents
),
updates AS (
  SELECT doc_id, source, 2 AS rev, md5(text || ' v2') AS fp
  FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, source, 1 AS rev, md5(text) AS fp
  FROM documents WHERE doc_id % 7 = 0
),
tagged AS (
  SELECT *, 0 AS src FROM existing UNION ALL SELECT *, 1 AS src FROM updates
),
ranked AS (
  SELECT doc_id, source, rev, fp,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY rev DESC, src DESC) AS rn
  FROM tagged
)
SELECT doc_id, source, CAST(rev AS INTEGER) AS rev, fp
FROM ranked WHERE rn = 1
""".strip(),
    doc="MERGE/upsert semantics (reference roadmap DESIGN.md:1694 "
    "'incremental processing'): newest revision per key wins, updates beat "
    "existing at equal rev. The pure merge is oracle-diffed here; the "
    "file-level incremental apply (bucket-partitioned parquet + dynamic "
    "partition overwrite rewriting only touched buckets) is "
    "operators/incremental.upsert_parquet, tested in "
    "tests/test_sinks_sources.py.",
)
def q_sink_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    existing = d.select(
        "doc_id", "source", F.lit(1).alias("rev"), F.md5("text").alias("fp")
    )
    updates = (
        d.where("doc_id % 3 = 0")
        .select(
            "doc_id",
            "source",
            F.lit(2).alias("rev"),
            F.md5(F.concat("text", F.lit(" v2"))).alias("fp"),
        )
        .unionByName(
            d.where("doc_id % 7 = 0").select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                "source",
                F.lit(1).alias("rev"),
                F.md5("text").alias("fp"),
            )
        )
    )
    return incremental.merge_latest(
        existing, updates, key="doc_id", rev_col="rev"
    ).select("doc_id", "source", F.col("rev").cast("int").alias("rev"), "fp")


@register(
    "agg-incremental-refresh",
    """
WITH base AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents, event_id
  FROM events WHERE event_id % 10 <> 0
),
truth AS (
  SELECT user_id, cents FROM base WHERE event_id % 50 <> 1
  UNION ALL
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_id % 10 = 0
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM truth GROUP BY user_id
""".strip(),
    doc="Incremental (self-maintaining) aggregate refresh — the 100 TB "
    "answer to 'new data arrived, do NOT rescan the corpus': the stored "
    "per-user aggregate (the base snapshot's count/sum partials) merges "
    "with SIGNED delta partials — inserts as +weight, retractions of "
    "corrected base rows (event_id%50=1) as -weight — through "
    "operators/incremental.merge_agg_partials: one unionByName of "
    "pre-aggregated frames + one hash re-agg, cost |delta|+|groups|. "
    "The oracle recomputes the truth FROM SCRATCH over "
    "(base - retracted) + inserts, so the differential itself proves "
    "count/sum self-maintainability under inserts AND deletes. "
    "(reference roadmap DESIGN.md:1693-1694 incremental processing; "
    "min/max need group re-scan instead, docs/SCALE.md).",
)
def q_agg_incremental_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    base = ev.where("event_id % 10 != 0")
    # the "stored MV": base partials, computed once at snapshot time
    mv = base.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    inserts = ev.where("event_id % 10 = 0")
    ins_p = inserts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    retract = base.where("event_id % 50 = 1")
    ret_p = retract.groupBy("user_id").agg(
        (-F.count("*")).cast("long").alias("n_events"),
        (-F.sum("cents")).cast("long").alias("total_cents"),
    )
    merged = incremental.merge_agg_partials(
        [mv, ins_p, ret_p], ["user_id"], ["n_events", "total_cents"]
    )
    return merged.where(F.col("n_events") > 0)


@register(
    "scan-cache-ttl",
    """
WITH log AS (
  SELECT 'https://h' || CAST(user_id % 50 AS STRING) || '.example.com/u'
           || CAST(user_id AS STRING) AS url,
         epoch_ns(ts) // 1000000000 AS sec
  FROM events
),
latest AS (
  SELECT url, CAST(max(sec) AS BIGINT) AS last_fetch_s FROM log GROUP BY url
),
clock AS (SELECT max(sec) AS now_s FROM log)
SELECT l.url, l.last_fetch_s,
       CAST(c.now_s - l.last_fetch_s AS BIGINT) AS age_s,
       (c.now_s - l.last_fetch_s) < 86400 AS cache_hit
FROM latest l CROSS JOIN clock c
""".strip(),
    doc="TTL fetch cache (reference: DESIGN.md:1664 cache.ttl config, "
    ":1693 'cache mechanism'): latest fetch per URL, HIT while younger "
    "than the TTL relative to a deterministic clock (max event time). One "
    "hash-agg on the URL key + a broadcast one-row clock — at 100 TB the "
    "cache table is bucketed by URL and the decision join stays pruned.",
)
def q_scan_cache_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        F.concat(
            F.lit("https://h"),
            (F.col("user_id") % 50).cast("string"),
            F.lit(".example.com/u"),
            F.col("user_id").cast("string"),
        ).alias("url"),
        F.expr("ts div 1000000000").alias("sec"),
    )
    now_row = log.agg(F.max("sec")).first()[0]
    now_s = 0 if now_row is None else int(now_row)  # empty log: no entries
    latest = log.groupBy("url").agg(
        F.max("sec").cast("bigint").alias("last_fetch_s")
    )
    return incremental.ttl_cache_decisions(
        latest.withColumn("now_s", F.lit(now_s)),
        url_col="url",
        ts_col="last_fetch_s",
        now_col="now_s",
        ttl_s=86400,
    )


# --- audio/video multimodal columns (multimodal/av.py) --------------------------

_AV_CTE = """
av AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END AS kind,
         (CASE WHEN doc_id % 2 = 0 THEN 'RIFF' ELSE 'ftyp' END) || text
           AS content
  FROM documents
)
""".strip()


def _av_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.synth_av_corpus(_docs(spark, sf_dir))


@register(
    "scan-av-meta",
    f"""
WITH {_AV_CTE}
SELECT media_id, kind,
       CASE substring(content, 1, 4)
         WHEN 'RIFF' THEN 'wav' WHEN 'ftyp' THEN 'mp4' END AS fmt,
       CAST(strlen(content) AS BIGINT) AS n_bytes,
       CAST((strlen(content) - 4) // 4 AS BIGINT) AS dur_ms
FROM av
""".strip(),
    doc="Audio/video as opaque binary columns + typed metadata: magic-byte "
    "format sniff, byte length, duration from the (fake fixed) bitrate — "
    "all JVM-side expressions on the binary column, decode never runs "
    "(multimodal/av.py; DuckDB mirrors on the varchar twin, whose UTF-8 "
    "bytes are the same bytes).",
)
def q_scan_av_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.av_meta(_av_corpus(spark, sf_dir))


@register(
    "scan-av-meta-real",
    """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 5 = 0 THEN 'mp4' ELSE 'wav' END AS fmt,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE CAST(1 + doc_id % 2 AS INTEGER) END AS channels,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                      ELSE 44100 END AS INTEGER) END AS sample_rate,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE CAST((100 + n_chars % 900) * (1 + doc_id % 2) * 2
                      AS BIGINT) END AS data_bytes,
       CASE WHEN doc_id % 5 = 0
            THEN CAST(least(n_chars * 25 + doc_id % 97, 4294967295) * 1000
                      // (CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000 END)
                      AS BIGINT)
            ELSE CAST((100 + n_chars % 900) * 1000
                      // (CASE doc_id % 3 WHEN 0 THEN 8000
                          WHEN 1 THEN 16000 ELSE 44100 END)
                      AS BIGINT) END AS dur_ms,
       CASE WHEN doc_id % 5 = 0 THEN NULL
            ELSE doc_id % 7 = 3 END AS truncated
FROM documents
""".strip(),
    doc="REAL container-byte AV metadata (VERDICT r8 #5; the av-family "
    "twin of udf-compress-image-real): audio blobs are canonical PCM "
    "WAVE files written by the vendored public-spec RIFF codec and "
    "video blobs are real ISO-BMFF skeletons (ftyp + moov/mvhd, "
    "ISO/IEC 14496-12 box grammar) — multimodal/miniwav.py — and the "
    "scan WALKS the actual containers: magic sniff from real magic "
    "bytes, channels/rate from the real fmt chunk, WAV duration from "
    "the real data-chunk size over byte_rate, MP4 duration from the "
    "real mvhd timescale/duration, extra LIST chunks skipped by "
    "declared size (doc_id%4==1), and truncation (doc_id%7==3, data 10 "
    "bytes short) surfaced as error-as-data. The oracle predicts the "
    "same metadata arithmetically from (doc_id, n_chars) — matching "
    "proves the distributed real-byte parse path, not a size model. "
    "Scale: binary blobs ride mapInPandas in Arrow batches, O(batch) "
    "memory, zero shuffle, zero driver state.",
    # the oracle PREDICTS metadata from (doc_id, n_chars); it never
    # parses container bytes, so its wall is not an engine comparison
    oracle_kind="replay",
)
def q_scan_av_meta_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.scan_av_meta_real(av.synth_wav_corpus(_docs(spark, sf_dir)))


@register(
    "udf-audio-chunk-real",
    """
WITH wavs AS (
  SELECT doc_id AS media_id,
         CAST((100 + n_chars % 900) * 1000
              // (CASE doc_id % 3 WHEN 0 THEN 8000
                  WHEN 1 THEN 16000 ELSE 44100 END) AS BIGINT) AS dur_ms
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT media_id, CAST(c AS INTEGER) AS chunk_no,
       CAST(c * 2000 AS BIGINT) AS start_ms,
       CAST(least((c + 1) * 2000, dur_ms) AS BIGINT) AS end_ms
FROM (
  SELECT media_id, dur_ms,
         unnest(generate_series(
           0, CAST(greatest(ceil(dur_ms / 2000.0), 1) AS INTEGER) - 1)) AS c
  FROM wavs
)
""".strip(),
    doc="Audio chunk spans driven by REAL container durations: the 2 s "
    "chunk generator (sequence + posexplode, narrow, no shuffle) runs "
    "over dur_ms values that the RIFF chunk walker read from actual "
    "WAVE data-chunk sizes (scan-av-meta-real's parse), not the fake "
    "fixed-bitrate model — the composition a real audio pipeline runs "
    "before per-chunk feature extraction. Non-WAV blobs (the ftyp "
    "class) carry NULL durations and are excluded from chunking "
    "identically in both engines. The oracle predicts durations "
    "arithmetically from (doc_id, n_chars); the Spark side gets them "
    "from bytes.",
    oracle_kind="replay",  # oracle predicts dur_ms; no container parse
)
def q_udf_audio_chunk_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    meta = av.scan_av_meta_real(
        av.synth_wav_corpus(_docs(spark, sf_dir))
    ).where(F.col("fmt") == "wav")
    n = F.greatest(
        F.ceil(F.col("dur_ms") / 2000.0), F.lit(1)
    ).cast("int")
    return (
        meta.select(
            "media_id",
            F.col("dur_ms"),
            F.posexplode(F.sequence(F.lit(0), n - 1)).alias(
                "chunk_no", "_i"
            ),
        )
        .select(
            "media_id",
            F.col("chunk_no").cast("int").alias("chunk_no"),
            (F.col("chunk_no") * 2000).cast("long").alias("start_ms"),
            F.least((F.col("chunk_no") + 1) * 2000, F.col("dur_ms"))
            .cast("long")
            .alias("end_ms"),
        )
    )


@register(
    "udf-audio-chunk",
    f"""
WITH {_AV_CTE},
durs AS (
  SELECT media_id, CAST((strlen(content) - 4) // 4 AS BIGINT) AS dur_ms
  FROM av WHERE kind = 'audio'
)
SELECT media_id, CAST(c AS INTEGER) AS chunk_no,
       CAST(c * 2000 AS BIGINT) AS start_ms,
       CAST(least((c + 1) * 2000, dur_ms) AS BIGINT) AS end_ms
FROM (
  SELECT media_id, dur_ms,
         unnest(generate_series(
           0, CAST(greatest(ceil(dur_ms / 2000), 1) AS INTEGER) - 1)) AS c
  FROM durs
)
""".strip(),
    doc="Fixed-duration audio chunk spans (2 s): narrow sequence+posexplode "
    "generator per file, no shuffle, no decode — per-chunk feature "
    "extraction (or a real sample decoder) drops onto these rows "
    "(multimodal/av.py audio_chunks).",
)
def q_udf_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.audio_chunks(_av_corpus(spark, sf_dir), chunk_ms=2000)


@register(
    "udf-av-fingerprint-real",
    """
WITH wavs AS (
  SELECT doc_id,
         CAST(1 + doc_id % 2 AS INTEGER) AS ch,
         CASE WHEN doc_id % 7 = 3
              THEN ((100 + n_chars % 900) * (1 + doc_id % 2) * 2 - 10)
                   // (2 * (1 + doc_id % 2))
              ELSE 100 + n_chars % 900 END AS frames
  FROM documents WHERE doc_id % 5 <> 0
),
samp AS (
  SELECT doc_id, ch, frames,
         unnest(generate_series(0, CAST(frames * ch AS BIGINT) - 1)) AS i
  FROM wavs
),
vals AS (
  SELECT doc_id, ch, frames,
         ((doc_id * 31 + i * 7) % 65536) - 32768 AS v
  FROM samp
)
SELECT doc_id AS media_id,
       CAST(ch AS INTEGER) AS channels,
       CAST(frames AS BIGINT) AS n_frames,
       CAST(sum(v) AS BIGINT) AS s_sum,
       CAST(min(v) AS INTEGER) AS s_min,
       CAST(max(v) AS INTEGER) AS s_max,
       CAST(sum(v * v) AS BIGINT) AS s_sumsq
FROM vals
GROUP BY doc_id, ch, frames
""".strip(),
    doc="Audio energy/feature stats over REAL DECODED PCM SAMPLES (r9 "
    "verdict #4 — closes the AV family's last closable realism gap): "
    "miniwav.decode_pcm16 walks each blob's actual RIFF chunks to the "
    "data payload and decodes interleaved little-endian int16 frames — "
    "spec arithmetic, no audio library — then the kernel emits exact "
    "integer stats (frame count, Σv, min/max, Σv², the loudness/VAD "
    "energy integral). The oracle REGENERATES the synthetic signal "
    "((doc_id*31 + i*7) mod 65536 - 32768 per pcm_ramp) with "
    "generate_series and aggregates the same stats in DuckDB — real "
    "engine work on both sides (sql-kind oracle, unlike the metadata "
    "family's replay predictions), so a match proves the byte-level "
    "decode path end to end: container walk, data offset, frame trim "
    "on the truncated class (doc_id%7==3 loses its last 10 bytes; "
    "both sides count only complete frames). Scale: single pass, "
    "Arrow batches, vectorized numpy reductions, zero shuffle.",
)
def q_udf_av_fingerprint_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.audio_fingerprint_real(
        av.synth_wav_corpus(_docs(spark, sf_dir))
    )


@register(
    "udf-audio-vad-real",
    """
WITH wavs AS (
  SELECT doc_id,
         CAST(1 + doc_id % 2 AS INTEGER) AS ch,
         CASE WHEN doc_id % 7 = 3
              THEN ((100 + n_chars % 900) * (1 + doc_id % 2) * 2 - 10)
                   // (2 * (1 + doc_id % 2))
              ELSE 100 + n_chars % 900 END AS frames
  FROM documents WHERE doc_id % 5 <> 0
),
samp AS (
  SELECT doc_id, ch, frames,
         unnest(generate_series(0, CAST(frames * ch AS BIGINT) - 1)) AS i
  FROM wavs
),
vals AS (
  SELECT doc_id, ch, (i // ch) // 256 AS chunk_no,
         ((doc_id * 31 + i * 7) % 65536) - 32768 AS v
  FROM samp
)
SELECT doc_id AS media_id,
       CAST(chunk_no AS INTEGER) AS chunk_no,
       CAST(count(*) // ch AS INTEGER) AS n_frames,
       CAST(sum(v * v) AS BIGINT) AS energy,
       sum(v * v) > 357913941 * count(*) AS active
FROM vals
GROUP BY doc_id, ch, chunk_no
""".strip(),
    doc="Per-CHUNK energy gate over REAL DECODED PCM frames — the "
    "VAD-style curation step after chunking (keep active audio, drop "
    "silence), closing the loop the AV family's three layers set up: "
    "header parse (scan-av-meta-real) → chunk spans "
    "(udf-audio-chunk-real) → per-chunk DECODED features (this). One "
    "decode per file (miniwav.decode_pcm16), 256-frame hops folded by "
    "vectorized np.add.reduceat, energy = exact integer Σv² across "
    "channels, active = integer cross-multiplication against "
    "floor(32768²/3) per sample — the full-range-uniform mean square, "
    "which the ramp corpus straddles ~58/42 (each chunk's 7-step band "
    "sits at a doc-dependent offset, so the gate exercises BOTH "
    "branches). The oracle regenerates the signal with generate_series "
    "and aggregates per (doc, chunk) — real engine work on both sides "
    "(sql-kind); matching proves decode + hop segmentation + "
    "partial-final-chunk handling, including the truncated class's "
    "shortened frame counts. Scale: O(samples)/file Arrow kernel, "
    "zero shuffle; BIGINT energy headroom ≈ 2⁴⁰ per stereo chunk.",
)
def q_udf_audio_vad_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.audio_vad_real(
        av.synth_wav_corpus(_docs(spark, sf_dir)), frames_per_chunk=256
    )


@register(
    "pipeline-av-curate-real",
    """
WITH wavs AS (
  SELECT doc_id,
         CAST(1 + doc_id % 2 AS INTEGER) AS ch,
         CASE WHEN doc_id % 7 = 3
              THEN ((100 + n_chars % 900) * (1 + doc_id % 2) * 2 - 10)
                   // (2 * (1 + doc_id % 2))
              ELSE 100 + n_chars % 900 END AS frames
  FROM documents WHERE doc_id % 5 <> 0
),
samp AS (
  SELECT doc_id, ch, frames,
         unnest(generate_series(0, CAST(frames * ch AS BIGINT) - 1)) AS i
  FROM wavs
),
vals AS (
  SELECT doc_id, ch, (i // ch) // 256 AS chunk_no,
         ((doc_id * 31 + i * 7) % 65536) - 32768 AS v
  FROM samp
),
chunks AS (
  SELECT doc_id, ch, chunk_no,
         sum(v * v) AS energy,
         sum(v * v) > 357913941 * count(*) AS active
  FROM vals GROUP BY doc_id, ch, chunk_no
)
SELECT doc_id AS media_id,
       CAST(count(*) AS INTEGER) AS n_chunks,
       CAST(count(*) FILTER (WHERE active) AS INTEGER) AS n_active,
       CAST(coalesce(sum(energy) FILTER (WHERE active), 0) AS BIGINT)
         AS kept_energy,
       count(*) FILTER (WHERE active) * 3 >= count(*) AS keep
FROM chunks GROUP BY doc_id
""".strip(),
    doc="The audio curation pipeline END-TO-END on real bytes (round "
    "10): one decode pass per file (miniwav.decode_pcm16) feeds the "
    "per-chunk energy gate (udf-audio-vad-real's 256-frame hops), and "
    "a per-file rollup makes the KEEP decision a media curation "
    "pipeline actually ships — n_chunks / n_active / Σ active energy / "
    "keep iff ≥ 1/3 of chunks are active (integer cross-multiplied, "
    "no float ratio). The composed twin of pipeline-image-curate-real "
    "for the audio family: container walk → sample decode → chunk "
    "gate → file decision, all differential-proven in one plan. "
    "Oracle composes the same CTE chain (signal regeneration → chunk "
    "aggregate → file rollup) — real engine work on both sides "
    "(sql-kind). Scale: the decode+gate is one Arrow pass with zero "
    "shuffle; the rollup is a single hash aggregate on media_id.",
)
def q_pipeline_av_curate_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    chunks = av.audio_vad_real(
        av.synth_wav_corpus(_docs(spark, sf_dir)), frames_per_chunk=256
    )
    act = F.col("active").cast("int")
    return chunks.groupBy("media_id").agg(
        F.count("*").cast("int").alias("n_chunks"),
        F.sum(act).cast("int").alias("n_active"),
        F.coalesce(
            F.sum(F.when(F.col("active"), F.col("energy"))), F.lit(0)
        ).cast("long").alias("kept_energy"),
        (F.sum(act) * 3 >= F.count("*")).alias("keep"),
    )


@register(
    "udf-frame-times-real",
    """
WITH vids AS (
  SELECT doc_id,
         1 + n_chars % 7 AS c1, 400 + (doc_id % 7) * 40 AS d1,
         1 + doc_id % 9 AS c2, 520 + (n_chars % 11) * 25 AS d2,
         CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000 END AS ts
  FROM documents WHERE doc_id % 5 = 0
),
run1 AS (
  SELECT doc_id, ts, CAST(k AS BIGINT) AS frame_no,
         CAST(k AS BIGINT) * d1 AS ticks
  FROM (SELECT *, unnest(generate_series(0, CAST(c1 AS BIGINT) - 1)) AS k
        FROM vids)
),
run2 AS (
  SELECT doc_id, ts, c1 + CAST(j AS BIGINT) AS frame_no,
         CAST(c1 AS BIGINT) * d1 + CAST(j AS BIGINT) * d2 AS ticks
  FROM (SELECT *, unnest(generate_series(0, CAST(c2 AS BIGINT) - 1)) AS j
        FROM vids)
)
SELECT doc_id AS media_id, CAST(frame_no AS INTEGER) AS frame_no,
       CAST(ticks * 1000 // ts AS BIGINT) AS ts_ms
FROM (SELECT * FROM run1 UNION ALL SELECT * FROM run2)
""".strip(),
    doc="Per-frame decode timestamps from REAL SAMPLE TABLES (round 10, "
    "extending r9 verdict #4's realism push to the video container "
    "layer): synth_wav_corpus's ISO-BMFF blobs now carry a full "
    "trak ▸ mdia ▸ minf ▸ stbl nesting with a spec-exact stts box "
    "(14496-12 §8.6.1.2, two (count, delta) runs derived from "
    "(doc_id, n_chars)), and the kernel walks the actual boxes "
    "(miniwav.parse_mp4_stts) and expands the runs into one row per "
    "frame with ts_ms = Σ-preceding-deltas · 1000 // the real mvhd "
    "timescale — the exact walk a demuxer does to schedule decode, "
    "upgrading udf-frame-sample-real's fixed-2s approximation to the "
    "container's own timing. The oracle regenerates the runs "
    "arithmetically and unions the two closed-form series. Pixels stay "
    "out of scope (no mdat/codec config — honest for a pure-Python "
    "stack); the TIMING metadata a frame-extraction stage consumes is "
    "now genuinely read from container bytes. Scale: per-file box walk "
    "+ O(frames) expansion in Arrow batches, zero shuffle.",
    oracle_kind="replay",  # oracle predicts the runs; no box parse
)
def q_udf_frame_times_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.frame_times_real(
        av.synth_wav_corpus(_docs(spark, sf_dir))
    )


@register(
    "udf-frame-sample-real",
    """
WITH vids AS (
  SELECT doc_id AS media_id,
         CAST(least(n_chars * 25 + doc_id % 97, 4294967295) * 1000
              // (CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 1000 END)
              AS BIGINT) AS dur_ms
  FROM documents WHERE doc_id % 5 = 0
)
SELECT media_id, CAST(c AS INTEGER) AS frame_no,
       CAST(c * 2000 AS BIGINT) AS ts_ms
FROM (
  SELECT media_id,
         unnest(generate_series(
           0, CAST(greatest(ceil(dur_ms / 2000.0), 1) AS INTEGER) - 1)) AS c
  FROM vids
)
""".strip(),
    doc="Frame-sample scheduling driven by REAL container durations: the "
    "2 s frame-timestamp generator runs over dur_ms that the ISO-BMFF "
    "box walker read from actual mvhd timescale/duration fields "
    "(scan-av-meta-real's mp4 class) — the video twin of "
    "udf-audio-chunk-real. The explosion is pure metadata (narrow "
    "sequence+posexplode, no shuffle); a PyAV decoder plugs into "
    "multimodal/av.extract_frame per emitted (media_id, ts_ms) row.",
    oracle_kind="replay",  # oracle predicts dur_ms; no container parse
)
def q_udf_frame_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    meta = av.scan_av_meta_real(
        av.synth_wav_corpus(_docs(spark, sf_dir))
    ).where(F.col("fmt") == "mp4")
    n = F.greatest(F.ceil(F.col("dur_ms") / 2000.0), F.lit(1)).cast("int")
    return (
        meta.select(
            "media_id",
            F.posexplode(F.sequence(F.lit(0), n - 1)).alias(
                "frame_no", "_i"
            ),
        )
        .select(
            "media_id",
            F.col("frame_no").cast("int").alias("frame_no"),
            (F.col("frame_no") * 2000).cast("long").alias("ts_ms"),
        )
    )


@register(
    "udf-frame-sample",
    f"""
WITH {_AV_CTE},
durs AS (
  SELECT media_id, CAST((strlen(content) - 4) // 4 AS BIGINT) AS dur_ms
  FROM av WHERE kind = 'video'
)
SELECT media_id, CAST(c AS INTEGER) AS frame_no,
       CAST(c * 2000 AS BIGINT) AS ts_ms
FROM (
  SELECT media_id,
         unnest(generate_series(
           0, CAST(greatest(ceil(dur_ms / 2000), 1) AS INTEGER) - 1)) AS c
  FROM durs
)
""".strip(),
    doc="Video frame-sample scheduling (one frame per 2 s, t=0 included): "
    "the explosion is pure metadata; multimodal/av.py extract_frame is the "
    "gated decoder drop-in point (PyAV absent in this container).",
)
def q_udf_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.frame_samples(_av_corpus(spark, sf_dir), every_ms=2000)


@register(
    "udf-av-fingerprint",
    f"""
WITH {_AV_CTE}
SELECT media_id, CAST(strlen(content) AS BIGINT) AS n_bytes,
       md5(content) AS fp
FROM av
""".strip(),
    doc="Arrow-batched mapInPandas over the BINARY media column: per-file "
    "byte length + md5 computed in Python pandas. Oracle-checkable by "
    "construction (same bytes as the varchar twin), so the binary Arrow "
    "path — schema, batch shape, addPyFile worker shipping — is "
    "differential-tested rather than smoke-tested (multimodal/av.py).",
)
def q_udf_av_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import av

    return av.fingerprint_kernel(_av_corpus(spark, sf_dir))


@register(
    "scan-cdc-diff",
    """
WITH v1 AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 0
),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN md5(text || ' v2') ELSE md5(text) END
           AS fp
  FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, md5(text) AS fp
  FROM documents WHERE doc_id % 7 = 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'insert'
            WHEN n.doc_id IS NULL THEN 'delete'
            WHEN o.fp <> n.fp THEN 'update'
            ELSE 'unchanged' END AS action,
       o.fp AS old_fp, n.fp AS new_fp
FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
""".strip(),
    doc="Change-data-capture diff between two table versions (the read "
    "side of the incremental story, reference roadmap DESIGN.md:1694): "
    "full-outer join on the key + fingerprint classify into insert/"
    "delete/update/unchanged. With both versions bucketed by key the "
    "join is shuffle-free (operators/incremental.cdc_diff; v1 drops "
    "doc_id%11 -> deletes, v2 mutates %3 -> updates and appends %7 -> "
    "inserts).",
)
def q_scan_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    v1 = d.where("doc_id % 11 != 0").select(
        "doc_id", F.md5("text").alias("fp")
    )
    v2 = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.md5(F.concat("text", F.lit(" v2")))
        ).otherwise(F.md5("text")).alias("fp"),
    ).unionByName(
        d.where("doc_id % 7 = 0").select(
            (F.col("doc_id") + 500000).alias("doc_id"),
            F.md5("text").alias("fp"),
        )
    )
    return incremental.cdc_diff(v1, v2, key="doc_id", fp_col="fp")


@register(
    "scan-schema-evolution",
    """
SELECT doc_id, source, quality_score
FROM (
  SELECT doc_id, source, NULL::DOUBLE AS quality_score
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL BY NAME
  SELECT doc_id, source,
         round(CAST(n_chars AS DOUBLE) / 1000, 4) AS quality_score
  FROM documents WHERE doc_id % 2 = 1
)
""".strip(),
    doc="Schema evolution: batch v2 added a quality_score column; the "
    "unified scan NULL-fills v1 rows (sources/evolution.py — "
    "unionByName(allowMissingColumns) in-frame, mergeSchema at file "
    "level, tested over real drifted parquet dirs in "
    "tests/test_sinks_sources.py).",
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.sources import evolution

    d = _docs(spark, sf_dir)
    v1 = d.where("doc_id % 2 = 0").select("doc_id", "source")
    v2 = d.where("doc_id % 2 = 1").select(
        "doc_id",
        "source",
        F.round(F.col("n_chars").cast("double") / 1000, 4).alias(
            "quality_score"
        ),
    )
    return evolution.union_evolved(v1, v2).select(
        "doc_id", "source", "quality_score"
    )


@register(
    "filter-quarantine-split",
    """
SELECT reason, CAST(count(*) AS BIGINT) AS n_docs
FROM (
  SELECT CASE WHEN text IS NULL OR trim(text) = '' THEN 'empty'
              WHEN strlen(text) < 80 THEN 'too_short'
              WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'bad_lang'
              ELSE 'ok' END AS reason
  FROM documents
)
GROUP BY reason
""".strip(),
    doc="Dead-letter / quarantine split: every ingested row is routed to "
    "exactly one bucket (empty / too_short / bad_lang / ok) — the "
    "validation gate in front of every downstream op. First matching "
    "reason wins so the split is a partition, not a multi-label tag; "
    "narrow map + 4-group agg.",
)
def q_filter_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    reason = (
        F.when(
            F.col("text").isNull() | (F.trim("text") == ""), "empty"
        )
        .when(F.length("text") < 80, "too_short")
        .when(~F.col("lang").isin("en", "de", "fr", "es"), "bad_lang")
        .otherwise("ok")
    )
    return d.groupBy(reason.alias("reason")).agg(
        F.count("*").alias("n_docs")
    )


@register(
    "sink-incremental-agg",
    """
WITH v1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN 'MOVED'
              ELSE o_orderpriority END AS o_orderpriority,
         CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.00
                   ELSE o_totalprice END AS DECIMAL(12,2)) AS price
  FROM orders WHERE o_orderkey % 17 <> 0
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(price) AS DECIMAL(18,2)) AS revenue
FROM v1 GROUP BY o_orderpriority
""".strip(),
    doc="Incremental materialized-aggregate maintenance (the write side of "
    "the CDC story next to scan-cdc-diff; reference roadmap "
    "DESIGN.md:1694): the Spark path NEVER re-aggregates v1 directly — it "
    "takes the v0 aggregate as base, diffs v0/v1 on the key, drops "
    "unchanged rows BEFORE any shuffle (work is proportional to the "
    "change set, not the table), and merges signed contributions "
    "(-old/+new, handling deletes, inserts, price updates and "
    "group-migration updates). The oracle aggregates v1 directly, so "
    "parity proves base+delta == full recompute. Counts and DECIMAL sums "
    "are the self-maintainable aggregate class; min/max would need the "
    "deletion-aware variants.",
)
def q_sink_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    v0 = orders.where(k % 13 != 0).select(
        k.alias("key"),
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    v1 = orders.where(k % 17 != 0).select(
        k.alias("key"),
        F.when(k % 11 == 0, F.lit("MOVED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("grp"),
        F.when(
            k % 7 == 0,
            (F.col("o_totalprice") + F.lit(10.00)).cast("decimal(12,2)"),
        )
        .otherwise(F.col("o_totalprice").cast("decimal(12,2)"))
        .alias("price"),
    )
    base = v0.groupBy("grp").agg(
        F.count("*").cast("long").alias("dn"),
        F.sum("price").cast("decimal(18,2)").alias("drev"),
    )
    o = v0.alias("o")
    n = v1.alias("n")
    diff = o.join(n, F.col("o.key") == F.col("n.key"), "full_outer").where(
        F.col("o.key").isNull()
        | F.col("n.key").isNull()
        | (F.col("o.grp") != F.col("n.grp"))
        | (F.col("o.price") != F.col("n.price"))
    )
    minus = diff.where(F.col("o.key").isNotNull()).select(
        F.col("o.grp").alias("grp"),
        F.lit(-1).cast("long").alias("dn"),
        (-F.col("o.price")).cast("decimal(18,2)").alias("drev"),
    )
    plus = diff.where(F.col("n.key").isNotNull()).select(
        F.col("n.grp").alias("grp"),
        F.lit(1).cast("long").alias("dn"),
        F.col("n.price").cast("decimal(18,2)").alias("drev"),
    )
    return (
        base.unionByName(minus)
        .unionByName(plus)
        .groupBy("grp")
        .agg(
            F.sum("dn").cast("long").alias("n_orders"),
            F.sum("drev").cast("decimal(18,2)").alias("revenue"),
        )
        .where(F.col("n_orders") > 0)
        .select(
            F.col("grp").alias("o_orderpriority"), "n_orders", "revenue"
        )
    )


@register(
    "scan-custom-datasource",
    """
WITH pages AS (
  SELECT i AS page_id,
         'site' || CAST(i % 7 AS STRING) || '.example.com' AS domain,
         CAST(i % 4 AS INTEGER) AS depth,
         '<h1>' || substring(md5(CAST(i AS STRING)), 1, 8) || '</h1><p>'
            || substring(md5(CAST(i AS STRING)), 9, 16) || '</p>' AS html
  FROM (SELECT unnest(generate_series(0, 349)) AS i)
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_pages,
       min(md5(html)) AS min_fp, max(md5(html)) AS max_fp,
       CAST(sum(length(html)) AS BIGINT) AS total_chars
FROM pages WHERE depth <= 2 GROUP BY domain
""".strip(),
    doc="Spark-4 Python DataSource connector (sources/pagesource.py): "
    "synthetic crawl pages planned as one input partition per domain, "
    "with executor-side generation, depth-filter pushdown into the "
    "reader, and domain-equality partition pruning. Rows derive purely "
    "from md5(page_id), so the oracle regenerates them bit-for-bit: the "
    "min/max content fingerprints prove the connector emitted identical "
    "BYTES, not just matching counts. The depth<=2 predicate is pushed "
    "into the source (never materialized), standing in for the "
    "filter-before-fetch rule of the crawl (SURVEY §4 row 1).",
)
def q_scan_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.sources.catalog import (
        ensure_package_on_workers,
    )
    from ai_knowledge_etl_spark.sources.pagesource import (
        CrawlPagesDataSource,
    )

    ensure_package_on_workers(spark)
    # runtime-settable; required for the Python-DS pushFilters API
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CrawlPagesDataSource)
    df = (
        spark.read.format("crawlpages")
        .option("n", 350)
        .load()
        .where(F.col("depth") <= 2)
    )
    return df.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_pages"),
        F.min(F.md5("html")).alias("min_fp"),
        F.max(F.md5("html")).alias("max_fp"),
        F.sum(F.length("html")).cast("long").alias("total_chars"),
    )


@register(
    "scan-web-connector",
    """
WITH pids AS (SELECT unnest(generate_series(0, 209)) AS pid),
urls AS (
  SELECT 'https://site' || CAST(pid % 7 AS VARCHAR) || '.example.com/p/'
         || CAST(pid AS VARCHAR) AS url
  FROM pids WHERE pid % 4 < 3
),
sums AS (
  SELECT url,
         list_aggregate(list_transform(string_split(url, ''), x -> ascii(x)), 'sum') AS h
  FROM urls
)
SELECT url,
       h % 13 <> 0 AS ok,
       CASE WHEN h % 13 = 0 THEN 'ANTI_SCRAPE'
            WHEN h % 11 = 0 THEN 'LOGIN_REQUIRED'
            WHEN 5 + length(CAST(h % 1000 AS VARCHAR)) + 27 * (h % 7 + 1) < 100
              THEN 'ANTI_SCRAPE'
            ELSE 'NONE' END AS obstacle
FROM sums
""".strip(),
    doc="The scan-web-playwright analog wired END-TO-END (VERDICT r1 #7; "
    "reference: commands/extract.md:449-456, DESIGN.md:954-1019): the "
    "frontier wave comes out of the sources/pagesource.py connector (one "
    "planned input partition per domain, depth<3 pushed into the reader), "
    "then flows through sources/web.py's full per-partition kernel — "
    "security route, skip filter, per-domain politeness pacing, retry "
    "with backoff, error-as-data, boilerplate strip, obstacle classify. "
    "The injected fetcher is the deterministic offline one (a browser "
    "fetcher drops into the same seam). Because every stage is "
    "deterministic in the URL, the WHOLE pipeline has a SQL oracle: "
    "DuckDB regenerates the frontier, replays the fetcher's ord-sum "
    "failure/login arithmetic, and recomputes the obstacle label from "
    "the stripped-text length formula.",
)
def q_scan_web_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.sources import web
    from ai_knowledge_etl_spark.sources.catalog import (
        ensure_package_on_workers,
    )
    from ai_knowledge_etl_spark.sources.pagesource import (
        CrawlPagesDataSource,
    )

    ensure_package_on_workers(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CrawlPagesDataSource)
    frontier = (
        spark.read.format("crawlpages")
        .option("n", 210)
        .load()
        .where(F.col("depth") < 3)  # pushed into the reader
        .select("url")
    )
    fetched = web.fetch_pipeline(
        frontier, web.demo_fetcher, interval_s=0.0, n_domain_partitions=7
    )
    return fetched.select(
        "url",
        F.col("error").isNull().alias("ok"),
        "obstacle",
    )


@register(
    "udf-detect-encoding",
    """
SELECT doc_id,
       CASE doc_id % 7
         WHEN 1 THEN 'utf-8-bom' WHEN 2 THEN 'utf-16le'
         WHEN 3 THEN 'latin-1' WHEN 4 THEN 'empty'
         WHEN 5 THEN 'utf-8' ELSE 'ascii' END AS detected,
       CAST(CASE doc_id % 7
         WHEN 1 THEN octet_length(encode(text)) + 3
         WHEN 2 THEN 2 * length(text) + 2
         WHEN 3 THEN octet_length(encode(text)) + 1
         WHEN 4 THEN 0
         WHEN 5 THEN octet_length(encode(text)) + 6
         ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes
FROM documents
""".strip(),
    doc="Charset sniffing over raw fetched bytes "
    "(functions/encoding.py): BOM check (UTF-8/UTF-16LE/UTF-16BE), "
    "strict UTF-8 trial decode (pure-ASCII reports 'ascii'), latin-1 "
    "terminal fallback — the ingest-hygiene step WARC/web pipelines run "
    "before any text op, since a wrong decode corrupts every downstream "
    "fingerprint. Six byte classes are INJECTED deterministically "
    "(BOM'd UTF-8, BOM'd UTF-16LE of the same text, a 0xE9 latin-1 "
    "byte that no UTF-8 parse survives, empty, genuine multibyte "
    "UTF-8 via a CJK prefix, plain ASCII), so the oracle replays "
    "label + byte count arithmetically. Kernel is Arrow-batched "
    "mapInPandas over the binary column — partition-local, no shuffle; "
    "a chardet-style statistical model drops into the same seam.",
)
def q_udf_detect_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.functions import encoding as ENC

    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 7
    content = (
        F.when(m == 1, F.concat(F.unhex(F.lit("EFBBBF")), F.encode("text", "UTF-8")))
        .when(m == 2, F.concat(F.unhex(F.lit("FFFE")), F.encode("text", "UTF-16LE")))
        .when(m == 3, F.concat(F.unhex(F.lit("E9")), F.encode("text", "UTF-8")))
        .when(m == 4, F.encode(F.lit(""), "UTF-8"))
        .when(m == 5, F.encode(F.concat(F.lit("文档"), F.col("text")), "UTF-8"))
        .otherwise(F.encode("text", "UTF-8"))
    )
    return ENC.detect_encoding(
        d.select("doc_id", content.alias("content"))
    )


# --- partitioned write + dynamic partition overwrite ------------------------------

def _run_partitioned_write(spark: SparkSession, sf_dir: str) -> str:
    """Write documents hive-partitioned by lang, then DYNAMICALLY overwrite
    only the lang=en partition with its doc_id%2=0 half. Returns the table
    root. Every partition is repartition()ed to one task so the file
    layout (1 file per partition dir) is deterministic."""
    import os

    workdir = scratch_dir("etl_partwrite_")
    table = os.path.join(workdir, "docs_by_lang")
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars", "lang")
    docs.repartition("lang").write.partitionBy("lang").mode(
        "overwrite"
    ).parquet(table)
    # dynamic overwrite: ONLY the partitions present in this write are
    # replaced; a static overwrite here would drop every other lang
    (
        docs.where("lang = 'en' AND doc_id % 2 = 0")
        .repartition("lang")
        .write.partitionBy("lang")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(table)
    )
    return table


@register(
    "sink-partitioned-write",
    """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(1 AS BIGINT) AS n_files
FROM documents
WHERE lang <> 'en' OR doc_id % 2 = 0
GROUP BY lang
""".strip(),
    doc="Hive-partitioned parquet sink + DYNAMIC partition overwrite (the "
    "lakehouse incremental-reload primitive): documents land partitioned "
    "by lang; a second write overwrites ONLY the lang=en partition "
    "(partitionOverwriteMode=dynamic as a WRITER option — thread-safe, "
    "no session conf mutation) with its doc_id%%2=0 half, and every "
    "other partition must survive byte-for-byte. Read-back counts rows "
    "AND physical files per partition via the _metadata.file_path "
    "hidden column (repartition-by-lang makes the layout exactly one "
    "file per partition dir, so n_files is oracle-checkable) — any "
    "static-overwrite regression (other langs vanish), missed overwrite "
    "(en keeps odd doc_ids), or small-file explosion breaks the hash. "
    "At 100 TB this is how daily re-loads replace exactly the touched "
    "date partitions without rewriting the table.",
)
def q_sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _run_partitioned_write(spark, sf_dir)
    # explicit schema: an all-empty input writes a table root with no
    # partition dirs, which schema inference rejects (empty-input census)
    back = spark.read.schema("doc_id long, n_chars long, lang string").parquet(
        table
    ).select(
        "doc_id", "n_chars", "lang", F.col("_metadata.file_path").alias("__f")
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("__f").cast("long").alias("n_files"),
    )


# --- perceptual image hashing over real PNG bytes ---------------------------------

_PHASH_PIDS_SQL = """
  SELECT doc_id AS img_id, doc_id AS base, 0 AS pert FROM documents
  UNION ALL
  SELECT doc_id + 1000000000000, doc_id, 1 FROM documents WHERE doc_id % 10 = 0
""".strip()


def _phash_hs_sql(pids_sql: str) -> str:
    """CTE chain replaying the md5-mixed test card + average hash for an
    arbitrary id population (shared by the phash queries and
    pipeline-image-curate, whose population excludes the garbage rows)."""
    return _PHASH_HS_TEMPLATE.replace("__PIDS__", pids_sql)


_PHASH_HS_TEMPLATE = """
pids AS (
__PIDS__
),
ppos AS (
  SELECT img_id, base, pert, unnest(generate_series(0, 63)) AS p FROM pids
),
phex AS (
  SELECT img_id, p, pert,
         md5(CAST(base AS VARCHAR) || ':' || CAST(p AS VARCHAR)) AS hx
  FROM ppos
),
pxg AS (
  SELECT img_id, p,
         ((((strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
            + strpos('0123456789abcdef', substring(hx, 2, 1)) - 1
            + CASE WHEN pert = 1 AND p % 9 = 0 THEN 16 ELSE 0 END) % 256) * 299
          + ((strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) * 587
          + ((strpos('0123456789abcdef', substring(hx, 5, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(hx, 6, 1)) - 1) * 114) // 1000 AS gray
  FROM phex
),
pst AS (SELECT img_id, sum(gray) AS s FROM pxg GROUP BY img_id),
hs AS MATERIALIZED (
  SELECT g.img_id,
         CAST(sum(CASE WHEN p // 16 = 0 AND g.gray*64 > pst.s THEN 1 << (p % 16) ELSE 0 END) AS BIGINT) AS h0,
         CAST(sum(CASE WHEN p // 16 = 1 AND g.gray*64 > pst.s THEN 1 << (p % 16) ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN p // 16 = 2 AND g.gray*64 > pst.s THEN 1 << (p % 16) ELSE 0 END) AS BIGINT) AS h2,
         CAST(sum(CASE WHEN p // 16 = 3 AND g.gray*64 > pst.s THEN 1 << (p % 16) ELSE 0 END) AS BIGINT) AS h3
  FROM pxg g JOIN pst USING (img_id) GROUP BY g.img_id
)
""".strip()

_PHASH_HS_CTE = _phash_hs_sql(_PHASH_PIDS_SQL)


def _phash_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ids = docs.select(F.col("doc_id").alias("img_id")).unionByName(
        docs.where("doc_id % 10 = 0").select(
            (F.col("doc_id") + 10**12).alias("img_id")
        )
    )
    # the downstream render/decode/hash kernels are codec-bound Python
    # (~64 md5 + a PNG round trip per row), while this id frame inherits
    # the documents scan's 1-2 parquet splits — which would serialize
    # the whole kernel on 2 of the executor cores (measured at sf0.1:
    # udf-image-phash 1.71 -> 0.79 s, dedup-image-phash 2.23 -> 1.75 s
    # same-session min-of-5). Round-robin repartition spreads the rows;
    # the shuffle moves only 8-byte ids (guide section 8: decide with
    # small rows, move nothing heavy).
    return ids.repartition(spark.sparkContext.defaultParallelism)


@register(
    "udf-image-phash",
    f"""
WITH {_PHASH_HS_CTE}
SELECT img_id, h0, h1, h2, h3 FROM hs
""".strip(),
    doc="Perceptual (average) hash over REAL PNG bytes "
    "(multimodal/images.phash_images): every image is built as a "
    "deterministic 8x8 RGB card, pushed through the ACTUAL vendored "
    "codec — minipng.encode_png then decode_png — and hashed from the "
    "DECODED pixels, while the oracle computes the hash from the pixel "
    "arithmetic directly: the differential test itself proves the "
    "codec round-trip is lossless byte-for-byte. Integer-only hash "
    "(bit = gray*64 > sum(gray), no float mean), packed as four "
    "16-bit bands that double as Hamming-LSH keys. Planted "
    "near-duplicates (+10^12 ids — above any corpus id, +16 on every 9th red channel) flip "
    "only bits near the mean — the dedup-image-phash fixture. "
    "Arrow-batched mapInPandas; the only shuffle is the round-robin "
    "spread of the 8-byte id frame across cores (the codec kernel is "
    "the cost, not the bytes); a PIL/ffmpeg decoder drops "
    "into the same seam for JPEG/video frames.",
)
def q_udf_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import images as IM

    return IM.phash_images(_phash_ids(spark, sf_dir))


_PHASH_PAIRS_CTE = """
bands AS MATERIALIZED (
  SELECT img_id, 0 AS bi, h0 AS bv FROM hs UNION ALL
  SELECT img_id, 1, h1 FROM hs UNION ALL
  SELECT img_id, 2, h2 FROM hs UNION ALL
  SELECT img_id, 3, h3 FROM hs
),
cand AS (
  SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
  WHERE a.img_id < b.img_id
),
scored AS (
  SELECT c.img_a, c.img_b,
         CAST(bit_count(xor(x.h0, y.h0)) + bit_count(xor(x.h1, y.h1))
            + bit_count(xor(x.h2, y.h2)) + bit_count(xor(x.h3, y.h3))
           AS INTEGER) AS hamming
  FROM cand c JOIN hs x ON c.img_a = x.img_id JOIN hs y ON c.img_b = y.img_id
)
""".strip()


@register(
    "dedup-image-phash",
    f"""
WITH {_PHASH_HS_CTE},
{_PHASH_PAIRS_CTE}
SELECT img_a, img_b, hamming FROM scored WHERE hamming <= 8
""".strip(),
    doc="Near-duplicate IMAGE detection via Hamming-LSH over the "
    "perceptual hashes (the image-side twin of dedup-minhash): "
    "candidates must share at least one exact 16-bit band of the "
    "64-bit average-hash — an EQUI self-join on (band_idx, band_value), "
    "never an all-pairs scan — then the full Hamming distance "
    "(bit_count of per-band XORs) gates at <= 8. The planted "
    "+10^12-id clones flip only mean-adjacent bits, so they surface "
    "through the band join; random pairs sit at Hamming ~32 and a "
    "16-bit band collision is p~6e-5, so candidate fan-out stays "
    "near-zero at any corpus size. Spark hashes real decoded PNG "
    "bytes; the oracle replays the arithmetic — codec round-trip and "
    "LSH recall verified in one differential.",
)
def q_dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import images as IM

    # eager cut (the warc-corpus discipline, and what the composed
    # pipeline-image-curate twin already does): the hash table feeds SIX
    # subtrees inside phash_pairs (4 band selects + both scored-join
    # sides), and mapInPandas is not an exchange the runtime can reuse —
    # uncut, the Python render+codec kernel re-ran per subtree
    # (round-8 A/B at sf0.1: 2.72 → 0.41 s warm)
    hs = eager_cut(IM.phash_images(_phash_ids(spark, sf_dir)))
    return IM.phash_pairs(hs, max_hamming=8)


_PIPE_IMG_PIDS_SQL = """
  SELECT doc_id AS img_id, doc_id AS base, 0 AS pert FROM documents
  WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000000000, doc_id, 1 FROM documents
  WHERE doc_id % 10 = 0 AND doc_id % 13 <> 0
""".strip()

_IMG_CAT_SQL = (
    "CASE (h0 + h1*3 + h2*7 + h3*11) % 8 "
    + " ".join(
        f"WHEN {i} THEN '{cat}'"
        for i, cat in enumerate(IM.IMAGE_CATEGORIES)
    )
    + " END"
)


@register(
    "pipeline-image-curate",
    f"""
WITH {_phash_hs_sql(_PIPE_IMG_PIDS_SQL)},
{_PHASH_PAIRS_CTE},
dups AS (SELECT DISTINCT img_b FROM scored WHERE hamming <= 8),
kept AS (
  SELECT img_id, h0, h1, h2, h3 FROM hs
  WHERE img_id NOT IN (SELECT img_b FROM dups)
),
cat_counts AS (
  SELECT {_IMG_CAT_SQL} AS category, CAST(count(*) AS BIGINT) AS n
  FROM kept GROUP BY 1
),
inv AS (
  SELECT CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
            + sum(CASE WHEN doc_id % 13 = 0 AND doc_id % 10 = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n
  FROM documents
),
dupn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dups)
SELECT category, n FROM cat_counts
UNION ALL SELECT 'rejected:invalid', n FROM inv
UNION ALL SELECT 'rejected:duplicate', n FROM dupn
""".strip(),
    doc="Image-corpus curation END-TO-END (the multimodal twin of "
    "pipeline-warc-corpus): render REAL PNG bytes for every image id "
    "(multimodal/images.render_cards — every 13th base id emits garbage "
    "bytes, every 10th gains a perturbed near-duplicate clone) -> "
    "magic-byte validation routes the garbage out as error rows, never "
    "into the decoder (the anti-fabrication contract) -> survivors "
    "decode through the actual codec and average-hash "
    "(phash_bytes) -> Hamming-LSH pair join drops the higher id of "
    "every near-dup pair (keep-canonical) -> the deterministic "
    "vision-kernel stub classifies survivors from the decoded-pixel "
    "fingerprint (a model kernel slots into the same seam) -> "
    "per-category rollup plus the two rejection counters. One composed "
    "oracle replays rendering arithmetic, hashing, pairing, dedup, and "
    "classification; any decoder loss, validation leak, or dedup "
    "mis-keep breaks the hash. Scale: every stage is a narrow map or "
    "the bounded band equi-join — no all-pairs anywhere.",
)
def q_pipeline_image_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.multimodal import images as IM2

    # eager stage cuts (the pipeline-warc-corpus discipline): imgs feeds
    # the valid AND invalid branches, hs feeds the band self-join (x2)
    # AND the keep-canonical anti-join — without the cut each consumer
    # re-runs the render/decode kernels
    imgs = eager_cut(IM2.render_cards(
        _phash_ids(spark, sf_dir), garbage_mod=13
    ))
    valid = imgs.where(IM2.is_valid_image("content"))
    invalid_n = imgs.where(~IM2.is_valid_image("content")).agg(
        F.count("*").cast("long").alias("n")
    )
    hs = eager_cut(IM2.phash_bytes(valid))
    dups = IM2.phash_pairs(hs, max_hamming=8).select("img_b").distinct()
    kept = hs.join(dups, hs.img_id == dups.img_b, "left_anti")
    cat = F.element_at(
        F.array(*[F.lit(c) for c in IM2.IMAGE_CATEGORIES]),
        (
            (
                F.col("h0")
                + F.col("h1") * 3
                + F.col("h2") * 7
                + F.col("h3") * 11
            )
            % 8
        ).cast("int")
        + 1,
    )
    cat_counts = kept.groupBy(cat.alias("category")).agg(
        F.count("*").cast("long").alias("n")
    )
    return cat_counts.unionByName(
        invalid_n.select(F.lit("rejected:invalid").alias("category"), "n")
    ).unionByName(
        dups.agg(F.count("*").cast("long").alias("n")).select(
            F.lit("rejected:duplicate").alias("category"), "n"
        )
    )


# --- transaction-log table: snapshots, time travel, compaction --------------------

def _run_txn_table(spark: SparkSession, sf_dir: str) -> str:
    """Build a 3-version transaction-log table: v0 = the English docs,
    v1 = append the German docs, v2 = COMPACT (remove every prior file,
    add one rewritten file with identical rows). Returns the table root."""
    import os

    from ai_knowledge_etl_spark.operators import txnlog

    table = os.path.join(scratch_dir("etl_txn_"), "docs")
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars", "lang")
    f0 = txnlog.write_files(spark, docs.where("lang = 'en'"), table, "d0", 2)
    txnlog.commit(table, 0, adds=f0, removes=[], op="create")
    f1 = txnlog.write_files(spark, docs.where("lang = 'de'"), table, "d1", 2)
    txnlog.commit(table, 1, adds=f1, removes=[], op="append")
    compacted = txnlog.write_files(
        spark, txnlog.snapshot(spark, table, 1), table, "c0", 1
    )
    txnlog.commit(table, 2, adds=compacted, removes=f0 + f1, op="compact")
    return table


@register(
    "scan-time-travel",
    """
SELECT 0 AS version,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_fp
FROM documents WHERE lang = 'en'
UNION ALL
SELECT v.version, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT),
       CAST(sum(doc_id) AS BIGINT)
FROM documents, (SELECT unnest([1, 2]) AS version) v
WHERE lang IN ('en', 'de')
GROUP BY v.version
""".strip(),
    doc="TIME TRAVEL over a minimal transaction-log table format "
    "(operators/txnlog.py — the public Delta/Iceberg core: immutable "
    "parquet data files + an append-only _log/ of versioned "
    "add/remove JSON actions, commits published by atomic rename so "
    "readers never see a half-commit and racing writers cannot both "
    "claim a version). The query builds v0=create(en), v1=append(de), "
    "v2=compact (remove every prior file, add one rewrite), then reads "
    "ALL THREE versions by log replay: v0 must show only the English "
    "rows, and v1 vs v2 must be row-identical though they share no "
    "data file — the compaction-without-downtime invariant, pinned by "
    "count, byte sum, and id fingerprint per version. Replay cost is "
    "O(actions), not table bytes; past ~10^4 actions the standard "
    "checkpoint-snapshot fix applies without changing the layout.",
)
def q_scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ai_knowledge_etl_spark.operators import txnlog

    table = _run_txn_table(spark, sf_dir)
    schema = "doc_id long, n_chars long, lang string"
    out = None
    for v in (0, 1, 2):
        snap = txnlog.snapshot(spark, table, v, schema=schema).agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.sum("doc_id").cast("long").alias("id_fp"),
        ).select(F.lit(v).alias("version"), "n_docs", "sum_chars", "id_fp")
        out = snap if out is None else out.unionByName(snap)
    return out
