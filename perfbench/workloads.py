"""The three workloads. Each drives the engine only through its public entry
points, from one client that waits for each call before making the next:

- ``registry-mix``: a family-stratified set of registry queries over seeded
  tables, each query run exactly once, then one CLI ``extract`` of a seeded
  PDF (``__main__.main(argv, spark=...)``);
- ``extract-dir``: the CLI front door (``__main__.main(argv, spark=...)``)
  over a seeded markdown directory;
- ``corpus-build``: ``pipeline.prepare_training_set`` and
  ``pipeline.curate_warc_corpus`` over one seeded corpus.

Every workload runs its timed part and returns its timed operations with the
function that checks their outputs; the caller runs that check after the
timed part, never inside it.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import gen
from tracing import Window

HERE = os.path.dirname(os.path.abspath(__file__))


def canon_fp(rows) -> str:
    """rowcount:md5 of the sorted canonicalized rows, floats to 6
    significant digits (the canonicalization ``bench.py`` fingerprints
    registry results with)."""

    def canon(v) -> str:
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    body = "\n".join(sorted("|".join(canon(v) for v in r) for r in rows))
    return f"{len(rows)}:{hashlib.md5(body.encode()).hexdigest()[:12]}"


@dataclass
class Op:
    name: str
    wall_s: float
    ok: bool = True
    parts: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    size: dict
    golden: dict  # expected outputs for the golden seed, by workload
    log: object
    windows: list[Window] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def window(self, group: str, phase: str, op: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{group}:{op}:{phase}", f"{group} {op} {phase}")
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.windows.append(Window(group, phase, op, t0 * 1e3, t1 * 1e3))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def fail(self, msg: str) -> None:
        self.problems.append(msg)
        self.log(f"CHECK FAILED: {msg}")


def repetitions(ctx: Ctx):
    """Repetition numbers of a pipeline call: at least ``min_reps``, then
    more while the run is under ``--seconds``, at most ``max_reps``."""
    t_start = time.perf_counter()
    rep = 0
    while rep < ctx.size["min_reps"] or (
        time.perf_counter() - t_start < ctx.seconds and rep < ctx.size["max_reps"]
    ):
        yield rep
        rep += 1


def _release(spark) -> None:
    """Drop everything a previous repetition could have left cached."""
    from ai_knowledge_etl_spark.session import release_persisted

    release_persisted()
    spark.catalog.clearCache()


# --- registry-mix -----------------------------------------------------------

# Queries whose reference wall is above this are left out of the universe:
# the few heaviest (27 of 301) would otherwise decide alone how long a run
# takes. bench.py still times them.
UNIVERSE_CAP_S = 3.0
# In every set: the registry's stream-stream join is a real Structured
# Streaming run with state (so the streaming layer always has batches to
# report), pipeline-curate-corpus composes a whole pipeline, and
# scan-web-jina runs sources/web.py's fetch_pipeline (fetch, strip and
# obstacle kernels), which no query under the cap reaches.
PINNED = ("stream-stream-interval-join", "pipeline-curate-corpus", "scan-web-jina")
# The CLI call that follows the queries, and the size of the PDF it reads.
CLI_OP = "cli-extract-pdf"
PDF_PAGES = 12


def registry_universe() -> dict[str, float]:
    """name -> reference wall (s) of every registry query a set can hold
    (see registry_costs.json)."""
    with open(os.path.join(HERE, "registry_costs.json")) as f:
        walls = json.load(f)["walls_s"]
    return {k: v for k, v in walls.items() if v <= UNIVERSE_CAP_S or k in PINNED}


def family(name: str) -> str:
    return name.split("-", 1)[0]


def registry_queries(n: int) -> list[str]:
    """``n - len(PINNED)`` queries stratified by name family, then the
    PINNED ones (which cover the stream and pipeline families).

    Families holding at least 1/20 of the universe are strata of their own,
    the rest pool into one; picks are proportional to stratum size (largest
    remainder, at least one each: the strata furthest below their quota get
    the remaining picks). Inside a stratum the queries are ordered
    by reference wall and taken at evenly spaced quantiles, so the set spans
    cheap to heavy queries. The set is the same for every seed: with a dozen
    queries per run, a seeded draw moved the pass's throughput by 27% to 44%
    between seeds (quartile spread over 5 seeds) because queries of similar
    reference wall still differ severalfold in real cost. The seed makes the
    tables instead. The set runs cheapest first, then the pinned queries,
    so the JVM warms up on the same queries every time."""
    costs = registry_universe()
    names = sorted(x for x in costs if x not in PINNED)
    sizes: dict[str, int] = {}
    for x in names:
        sizes[family(x)] = sizes.get(family(x), 0) + 1
    strata: dict[str, list[str]] = {}
    for x in names:
        f = family(x) if sizes[family(x)] * 20 >= len(names) else "other"
        strata.setdefault(f, []).append(x)
    k = n - len(PINNED)
    quota = {s: k * len(m) / len(names) for s, m in strata.items()}
    alloc = {s: max(1, int(q)) for s, q in quota.items()}
    for s in sorted(quota, key=lambda s: (alloc[s] - quota[s], s)):
        if sum(alloc.values()) >= k:
            break
        alloc[s] += 1
    picked = []
    for s in sorted(strata):
        members = sorted(strata[s], key=lambda x: (costs[x], x))
        picked += [members[int((i + 0.5) * len(members) / alloc[s])] for i in range(alloc[s])]
    return sorted(picked, key=lambda x: (costs[x], x)) + list(PINNED)


def _oracle_check(con, qd, rows, cols, sf_dir) -> str | None:
    from ai_knowledge_etl_spark.registry import oracle_of

    oracle = oracle_of(qd)
    if oracle is None:
        return None
    res = con.execute(oracle.replace("{SF_DIR}", sf_dir))
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"

    def norm(cs, rs):
        idx = sorted(range(len(cs)), key=lambda i: cs[i])
        return sorted((tuple(_norm_cell(r[i]) for i in idx) for r in rs), key=repr)

    if norm(cols, rows) != norm(d_cols, d_rows):
        return f"rows differ from the DuckDB oracle ({len(rows)} vs {len(d_rows)} rows)"
    return None


def _norm_cell(v):
    """tools/difftest.py's cell normalization: floats to 9 significant
    digits, so engine summation order cannot fail the comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        return round(v, 9 - 1 - int(math.floor(math.log10(abs(v)))))
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def registry_mix(ctx: Ctx) -> tuple[list[Op], Callable[[], None]]:
    """Each query of the set once: build the DataFrame (the registry callable),
    then collect its rows as the final action. The check compares the rows
    with the query's DuckDB oracle on the same generated tables and, for the
    golden seed, with the committed fingerprint.

    Then one ``extract <file>.pdf`` through the CLI front door: the PDF
    branch (binaryFile scan, page extraction, parquet write and count) is
    the one CLI path cheap enough for every run; a directory extract costs
    about 30 s on 4 cores (see extract-dir)."""
    from ai_knowledge_etl_spark.__main__ import main
    from ai_knowledge_etl_spark.registry import REGISTRY

    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "tables")
    n = max(len(PINNED) + 2, round(ctx.size["queries_per_s"] * ctx.seconds))
    names = registry_queries(n)
    ctx.inputs.update({"sf": ctx.size["sf"], "queries": n,
                       "input_bytes": gen.dir_bytes(sf_dir)})
    ops: list[Op] = []
    results: dict[str, tuple[list[str], list[tuple]]] = {}
    for name in names:
        qd = REGISTRY[name]
        t0 = time.perf_counter()
        try:
            with ctx.window("registry", "build", name):
                df = qd.spark(spark, sf_dir)
            t1 = time.perf_counter()
            with ctx.window("registry", "action", name):
                rows = df.collect()
            t2 = time.perf_counter()
            ops.append(Op(name, t2 - t0, parts={"build_s": t1 - t0, "action_s": t2 - t1}))
            results[name] = (df.columns, [tuple(r) for r in rows])
        except Exception as e:  # noqa: BLE001 - a failed query is data
            ops.append(Op(name, time.perf_counter() - t0, ok=False))
            ctx.fail(f"{name} raised {type(e).__name__}: {str(e)[:200]}")

    out_dir = os.path.join(ctx.work, "cli_out")
    summary: dict = {}
    buf = io.StringIO()
    t0 = time.perf_counter()
    try:
        with ctx.window("extract", "call", "pdf"), contextlib.redirect_stdout(buf):
            rc = main(["extract", os.path.join(ctx.work, "pdf", "doc.pdf"),
                       "--output-dir", out_dir, "--compact-cph"], spark=spark)
        ops.append(Op(CLI_OP, time.perf_counter() - t0, ok=rc == 0))
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    except Exception as e:  # noqa: BLE001 - a failed call is data
        ops.append(Op(CLI_OP, time.perf_counter() - t0, ok=False))
        ctx.fail(f"{CLI_OP} raised {type(e).__name__}: {str(e)[:200]}")
    return ops, lambda: _check_registry(ctx, ops, results, summary, sf_dir)


def _check_registry(ctx: Ctx, ops: list[Op], results: dict, summary: dict, sf_dir: str) -> None:
    import duckdb

    from ai_knowledge_etl_spark.registry import REGISTRY
    from ai_knowledge_etl_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    golden = ctx.golden.get("registry", {})
    use_golden = golden.get("seed") == ctx.seed and golden.get("sf") == ctx.size["sf"]
    fps = ctx.extra.setdefault("registry_fp", {})
    for op in ops:
        if not op.ok:
            continue
        if op.name == CLI_OP:
            err, fps[op.name] = _check_cli_pdf(summary)
        else:
            cols, rows = results[op.name]
            try:
                err = _oracle_check(con, REGISTRY[op.name], rows, cols, sf_dir)
            except Exception as e:  # noqa: BLE001
                err = f"oracle raised {type(e).__name__}: {str(e)[:200]}"
            fps[op.name] = canon_fp(rows)
        if err is None and use_golden and golden["fp"].get(op.name, fps[op.name]) != fps[op.name]:
            err = f"fingerprint {fps[op.name]} != golden {golden['fp'][op.name]}"
        if err:
            op.ok = False
            ctx.fail(f"{op.name}: {err}")
    con.close()


def _check_cli_pdf(summary: dict) -> tuple[str | None, str]:
    """(error or None, fingerprint) of the CLI's PDF extract: the page rows
    it wrote match the count it reported, carry no error, and number the
    pages 1..n, n within the engine's page cap."""
    import pyarrow.parquet as pq

    from ai_knowledge_etl_spark.sources.pdf import PDF_PAGE_CAP

    t = pq.read_table(os.path.join(summary["out_dir"], "pdf_pages_parquet")).to_pandas()
    fp = canon_fp([(int(r.page_no), r.page_text) for r in t.itertuples()])
    if summary.get("kind") != "pdf" or summary.get("pages") != len(t):
        return f"summary {summary} does not match {len(t)} page rows", fp
    if t["error"].notna().any():
        return f"page errors {sorted(set(t['error'].dropna()))}", fp
    if sorted(t["page_no"]) != list(range(1, len(t) + 1)) or not 0 < len(t) <= PDF_PAGE_CAP:
        return f"page numbers {sorted(t['page_no'])} are not 1..n with n <= {PDF_PAGE_CAP}", fp
    return None, fp


# --- extract-dir -----------------------------------------------------------

def _extract_argv(md_dir: str, out_dir: str, n_files: int) -> list[str]:
    return ["extract", md_dir + "/", "--topic", "spark", "--pipe", "rag",
            "--max-pages", str(n_files), "--output-dir", out_dir, "--compact-cph"]


def _check_extract_output(ctx: Ctx, out_dir: str, summary: dict) -> None:
    import pyarrow.parquet as pq

    distinct = ctx.inputs["distinct"]
    if summary.get("pages") != distinct:
        ctx.fail(f"extract exported {summary.get('pages')} pages for {distinct} distinct files")
    if summary.get("errors"):
        ctx.fail(f"extract reported {summary['errors']} fetch errors")
    pages = pq.read_table(os.path.join(out_dir, "pages_parquet"), columns=["url", "text"])
    if pages.num_rows != distinct:
        ctx.fail(f"pages parquet has {pages.num_rows} rows for {distinct} distinct files")
    texts = pages.column("text").to_pylist()
    if len(set(texts)) != len(texts):
        ctx.fail("pages parquet holds duplicate texts")
    n_md = sum(len([f for f in fs if f.endswith(".md")])
               for _r, _d, fs in os.walk(os.path.join(out_dir, "pages")))
    if n_md != distinct:
        ctx.fail(f"{n_md} markdown files exported for {distinct} pages")
    with open(os.path.join(out_dir, "REPORT.md")) as f:
        n_report = sum(1 for line in f if line.startswith("- "))
    if n_report != min(10, distinct):
        ctx.fail(f"REPORT.md lists {n_report} pages, expected {min(10, distinct)}")
    pipe = []
    pipe_dir = os.path.join(out_dir, "output_rag")
    for fn in sorted(os.listdir(pipe_dir)):
        if fn.endswith(".json"):
            with open(os.path.join(pipe_dir, fn)) as f:
                pipe += [json.loads(line) for line in f]
    if not pipe:
        ctx.fail("rag pipe output is empty")
    # fingerprint relative to the input dir, so it is path-independent
    prefix = "file:" + os.path.join(ctx.work, "md")
    fp_pages = canon_fp([(u.replace(prefix, ""), hashlib.md5(t.encode()).hexdigest())
                         for u, t in zip(pages.column("url").to_pylist(), texts)])
    fp_pipe = canon_fp([tuple(sorted((k, str(v).replace(prefix, "")) for k, v in r.items()))
                        for r in pipe])
    ctx.extra["extract_fp"] = {"pages": fp_pages, "pipe": fp_pipe}


def extract_dir(ctx: Ctx) -> tuple[list[Op], Callable[[], None]]:
    from ai_knowledge_etl_spark.__main__ import main

    md_dir = os.path.join(ctx.work, "md")
    n_files = ctx.size["extract_files"]
    ops: list[Op] = []
    outputs: list[tuple[Op, str, dict]] = []
    for rep in repetitions(ctx):
        out_dir = os.path.join(ctx.work, f"extract_out_{rep}")
        _release(ctx.spark)
        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with ctx.window("extract", "call", str(rep)), contextlib.redirect_stdout(buf):
                rc = main(_extract_argv(md_dir, out_dir, n_files), spark=ctx.spark)
            op = Op(f"extract#{rep}", time.perf_counter() - t0, ok=rc == 0)
            outputs.append((op, out_dir, json.loads(buf.getvalue().strip().splitlines()[-1])))
        except Exception as e:  # noqa: BLE001 - a failed call is data
            op = Op(f"extract#{rep}", time.perf_counter() - t0, ok=False)
            ctx.fail(f"extract rep {rep} raised {type(e).__name__}: {str(e)[:200]}")
        ops.append(op)
    return ops, lambda: _check_extract(ctx, outputs, n_files)


def _check_extract(ctx: Ctx, outputs: list[tuple[Op, str, dict]], n_files: int) -> None:
    golden = ctx.golden.get("extract", {})
    use_golden = golden.get("seed") == ctx.seed and golden.get("files") == n_files
    for op, out_dir, summary in outputs:
        before = len(ctx.problems)
        _check_extract_output(ctx, out_dir, summary)
        if use_golden and ctx.extra["extract_fp"] != golden["fp"]:
            ctx.fail(f"extract fingerprint {ctx.extra['extract_fp']} != golden {golden['fp']}")
        op.ok = op.ok and len(ctx.problems) == before


# --- corpus-build -----------------------------------------------------------

def _trainset_check(ctx: Ctx, path: str) -> str:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pandas()
    n = ctx.inputs["docs"]
    if t["doc_id"].duplicated().any():
        ctx.fail("training set holds a doc more than once")
    if not set(t["split"]).issubset({"train", "val", "test"}):
        ctx.fail(f"unexpected split values {sorted(set(t['split']))}")
    if t["text"].duplicated().any():
        ctx.fail("training set keeps exact-duplicate texts")
    if not 0 < len(t) <= n - ctx.inputs["exact_dup"]:
        ctx.fail(f"training set kept {len(t)} of {n} docs with {ctx.inputs['exact_dup']} exact dups")
    return canon_fp([(int(r.doc_id), r.split, int(r.n_windows)) for r in t.itertuples()])


def _warc_check(ctx: Ctx, path: str) -> str:
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pandas()
    top_n = ctx.size["top_n"]
    if len(t) != top_n:
        ctx.fail(f"WARC output has {len(t)} rows, expected top_n={top_n}")
    if t["doc_id"].duplicated().any():
        ctx.fail("WARC output holds a doc more than once")
    return canon_fp([tuple(r) for r in t[["doc_id", "n_kept", "n_toks", "score_millinats"]]
                     .itertuples(index=False)])


def corpus_build(ctx: Ctx) -> tuple[list[Op], Callable[[], None]]:
    from pyspark.sql import functions as F

    from ai_knowledge_etl_spark import pipeline

    spark = ctx.spark
    cdir = os.path.join(ctx.work, "corpus")
    top_n = ctx.size["top_n"]
    ops: list[Op] = []
    for rep in repetitions(ctx):
        r = str(rep)
        out_tr = os.path.join(ctx.work, f"trainset_out_{rep}")
        out_wc = os.path.join(ctx.work, f"warc_out_{rep}")
        parts: dict[str, float] = {}
        try:
            _release(spark)
            t0 = time.perf_counter()
            with ctx.window("trainset", "build", r):
                train = pipeline.prepare_training_set(
                    spark.read.parquet(os.path.join(cdir, "docs.parquet")))
            t1 = time.perf_counter()
            with ctx.window("trainset", "write", r):
                train.write.mode("overwrite").parquet(out_tr)
            t2 = time.perf_counter()
            _release(spark)
            t3 = time.perf_counter()
            with ctx.window("warc", "build", r):
                files = (spark.read.format("binaryFile").load(os.path.join(cdir, "warc"))
                         .select(F.regexp_extract("path", r"part-(\d+)\.warc", 1)
                                 .cast("bigint").alias("file_id"), "content"))
                lookup = spark.read.parquet(os.path.join(cdir, "uri_lookup.parquet"))
                warc = pipeline.curate_warc_corpus(files, lookup, top_n=top_n)
            t4 = time.perf_counter()
            with ctx.window("warc", "write", r):
                warc.write.mode("overwrite").parquet(out_wc)
            t5 = time.perf_counter()
            parts = {"trainset_s": t2 - t0, "trainset_build_s": t1 - t0, "trainset_write_s": t2 - t1,
                     "warc_s": t5 - t3, "warc_build_s": t4 - t3, "warc_write_s": t5 - t4}
            ops.append(Op(f"corpus#{rep}", parts["trainset_s"] + parts["warc_s"], parts=parts))
        except Exception as e:  # noqa: BLE001
            ops.append(Op(f"corpus#{rep}", 0.0, ok=False))
            ctx.fail(f"corpus rep {rep} raised {type(e).__name__}: {str(e)[:200]}")
    return ops, lambda: _check_corpus(ctx, ops)


def _check_corpus(ctx: Ctx, ops: list[Op]) -> None:
    golden = ctx.golden.get("corpus", {})
    use_golden = golden.get("seed") == ctx.seed and golden.get("docs") == ctx.inputs["docs"]
    for rep, op in enumerate(ops):
        if not op.ok:
            continue
        before = len(ctx.problems)
        fp = {"trainset": _trainset_check(ctx, os.path.join(ctx.work, f"trainset_out_{rep}")),
              "warc": _warc_check(ctx, os.path.join(ctx.work, f"warc_out_{rep}"))}
        ctx.extra["corpus_fp"] = fp
        if use_golden and fp != golden["fp"]:
            ctx.fail(f"corpus fingerprint {fp} != golden {golden['fp']}")
        op.ok = len(ctx.problems) == before


WORKLOADS = {
    "registry-mix": registry_mix,
    "extract-dir": extract_dir,
    "corpus-build": corpus_build,
}
