"""sf1-equivalent scale sweep (VERDICT r1 #8): smoke out hidden
superlinearity that the sf0.1 sweep can't see.

The driver ships sf{0.001,0.01,0.1} only, so this tool SYNTHESIZES a 10×
copy of the scaling fact tables (lineitem / orders / events — TPC-H sf1
row counts: 6M lineitem, 1.5M orders, 1M events) by unioning key-offset
replicas of sf0.1, reuses the dimension/document tables verbatim, and then

  1. runs `tools/difftest.py`-style Spark-vs-DuckDB comparison for the
     scaling-table queries at the synthesized dir (correctness at 10×), and
  2. times each query at sf0.1 vs 10× and reports the wall-clock ratio —
     a query whose ratio is far above the data ratio (10×) is superlinear
     and gets flagged.

Replication preserves join semantics: o_orderkey/l_orderkey get the same
per-replica offset (orders⋈lineitem fan-out unchanged), FKs into the fixed
dims (custkey/partkey/suppkey/user_id) are untouched, event_id is offset to
stay unique. Both engines read the SAME synthesized parquet, so the
differential check is exact.

Usage:
    python tools/scale_sweep.py [--mult 10] [--out /tmp/spark_graft_sf1]
                                [--skip-gen] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import duckdb
from pyspark.sql.types import StructType

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_knowledge_etl_spark.registry import REGISTRY, oracle_of
from ai_knowledge_etl_spark.session import get_spark
from ai_knowledge_etl_spark.sources.catalog import SCHEMAS, TABLES

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Queries dominated by the scaling tables — the set whose behavior at sf1
# actually differs from sf0.1. Dimension-only / documents-only queries scale
# with their own (fixed) tables and are covered by the normal difftest.
SCALING_QUERIES = [
    "agg-pricing-summary",        # Q1 shape: full lineitem scan+agg
    "sql-revenue-by-region",      # Q5 star join, lineitem⋈orders shuffle
    "topk-returned-customers",    # Q10
    "topk-unshipped-orders",      # Q3
    "join-volume-shipping",       # Q7 shape
    "join-star-revenue",
    "agg-promo-revenue",          # Q14
    "join-small-qty-revenue",     # Q17 avg-subquery join
    "join-large-volume-customers",  # Q18
    "agg-orders-per-customer",
    "window-running-total",
    "window-lag-lead",
    "agg-top-event-per-user",
    "stream-session-events",
    "agg-event-transitions",
    "agg-retention-cohorts",
    "window-page-id",             # two-pass id assignment must stay linear
    "window-batch-assign",
    "agg-timeseries-gapfill",
    "agg-touch-attribution",
    # documents-table curation ops (documents also scales ×mult below):
    # paragraph boilerplate df inflates ×mult — the keep-first window and
    # the DSIR token pipeline must stay linear through it
    "dedup-paragraph",
    "sample-importance-reweight",
    "pipeline-curate-corpus",
    "udf-normalize-text",
    "dedup-exact",
    "stream-dedup-watermark",
]

# The 100× set (VERDICT r2 #6): the heavy family where remaining driver
# loops / per-wave checkpoints / pair joins would first show
# superlinearity. Run with: python tools/scale_sweep.py --mult 100 --heavy
HEAVY_QUERIES = [
    "dedup-paragraph",          # hot boilerplate df inflates ×mult
    "dedup-exact",
    "dedup-cluster-cc",         # iterative driver loop
    "dedup-semantic",           # post-cap: every cluster exceeds the cap
    "scan-warc",                # 100-records-per-... pack + parse
    "pipeline-curate-corpus",
    "pipeline-warc-corpus",     # full composed entry pipeline
    "pipeline-crawl-e2e",       # 4 BFS waves with per-wave checkpoint
    "sample-importance-reweight",
    "agg-mad-outliers",         # histogram median must scale with values
    "agg-pricing-summary",
    "sql-revenue-by-region",
    "window-page-id",
    "agg-touch-attribution",
    # round-3 additions
    "pipeline-training-set",    # exact-first CC + packing streams
    "dedup-substring-span",     # window-fingerprint ownership aggregate
    "sample-perplexity-buckets",
    "agg-bpe-merges",
    "udf-bpe-tokenize",
    "stream-warc-ingest",       # real streaming ingest at 100x
    # round-4 additions
    "agg-bpe-merges-n",         # 8-round driver loop, vocab-sized rounds
    "pipeline-tokenize-pack",   # train + tokenize + pack composed
    # sketch family: events scales ×mult (CMS/KMV probe the scaled key
    # space), documents scales ×mult (bloom history fill rises with it)
    "agg-countmin-heavyhitters",
    "agg-kmv-distinct-setops",
    "dedup-bloom-gate",
    "agg-quantile-sample-merge",  # cutoff-bounded window over 100x orders
    # round-4 wave 2: interval joins, streaming join, LM scoring, RAG index
    "join-interval-overlap",      # binned fan-out must stay <=2 bins/row
    "stream-stream-interval-join",  # state-store join at 100x events
    "stream-outer-join-flush",    # watermark-gated outer emission at 100x
    "stream-stateful-sessionize", # state survives restart at 100x events
    "stream-stateful-timeout",    # event-time timers fire at 100x events
    "text-bigram-perplexity",     # bigram table broadcast vs corpus growth
    "pipeline-rag-index",         # chunk x16-centroid assignment fan-out
    "sample-mixture-epochs",      # explode fan-out bounded by max epochs
    "pipeline-image-curate",      # render+decode kernels, band self-join
    # round-5 additions
    "agg-basket-pairs",           # in-row pair fan-out = basket size^2
    "agg-zonemap-prune",          # layout sim: bit-arith file ids at 100x
    "agg-markov-transitions",     # per-user lead() window over 100x events
    "agg-incremental-refresh",    # partial-merge cost vs 100x base scan
    "stream-incremental-mv",      # real foreachBatch MV at 100x events
    "join-waiting-supplier",      # fused collect_set plan on 100x lineitem
    # round-10 additions (r9 verdict #5): the r9-new real-codec entries,
    # formalized out of the manual 10x/100x runs of PERF.md:1431-1435 —
    # documents scales ×mult, so every one of these re-encodes/walks
    # ×mult real containers / JPEG ladders per sweep
    "pipeline-image-curate-real",  # real JPEG ladder + byte-md5 dedup
    "scan-av-meta-real",           # WAV/BMFF synth + chunk-walk parse
    "udf-audio-chunk-real",        # chunking over real parsed durations
    "udf-frame-sample-real",       # frame scheduling over real mvhd
    "udf-av-fingerprint-real",     # full PCM sample decode + int stats
    "udf-audio-vad-real",          # per-chunk decoded energy gate
    "udf-frame-times-real",        # stts sample-table walk + expansion
    "pipeline-av-curate-real",     # composed decode+gate+keep rollup
]


def _gate(expr: str, divisor: int) -> str:
    """Deterministic md5 keep-gate over an integer key expression.

    Evaluated ONCE, in DuckDB, while materializing the sliced corpus —
    both engines then read the SAME parquet output, so the differential
    is exact by construction (stronger than evaluating 'the same
    predicate textually' in each engine, which VERDICT r6 #1 suggested
    as the fallback design)."""
    return (
        f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT"
        f" % {divisor}) = 0"
    )


def generate(
    mult: int,
    out_dir: str,
    slice_div: int | None = None,
    distinct: bool = False,
) -> None:
    """Synthesize the mult× corpus; with slice_div, keep only a
    deterministic md5-gated 1/slice_div slice (VERDICT r6 #1: lets the
    DuckDB oracle value-verify queries whose full-mult oracle OOMs).

    Gate keys are chosen to preserve each query family's structure:
      - orders + lineitem gate on the SAME scaled orderkey, so the
        orders⋈lineitem fan-out of kept keys is untouched;
      - events gate on user_id: kept users retain their FULL mult×
        event density (per-user session/state size — the actual scale
        dimension for the streaming family — is NOT thinned);
      - documents / embeddings gate on their scaled ids, keeping the
        full mult× id-band diversity of the synthetic derivations.

    distinct=True (round-7 verdict #2) switches from row REPLICATION to
    DISTINCT-ENTITY synthesis — the replica mode measured two artifacts
    instead of the operators (PERF.md round-7): cloned users make every
    stream-stream join's emitted-pair count grow mult² (the ~780 s 300×
    streaming walls measured the synthesizer's quadratic fan-out), and
    cloned value domains make histogram/domain-bound plans look
    artificially flat (agg-mad-outliers read 1.06× at 300× because no
    new distinct prices appear). Distinct mode, all seeded-md5/offset
    deterministic:
      - events: each replica gets FRESH user_ids (offset by the user
        span) on a FRESH month (ts shifted by replica × 31 days) — a
        production feed's shape: more users over more time, per-user
        density constant;
      - lineitem: l_extendedprice perturbed per replica by
        (i % 100) cents — the distinct-price domain grows with the
        corpus instead of freezing at the sf0.1 domain;
      - documents: replica > 0 texts are token-rewritten through the
        wide-vocab md5 machinery (suffix md5(i:doc:pos) % 64, 1/4 of
        tokens kept verbatim) — fresh vocabulary and fresh paragraphs,
        so dedup stages cannot collapse replicas early.
    Orders and embeddings keep the replica shape (their consumers are
    key-join / cluster-cap structured, not domain-bound)."""
    def connect():
        # cap DuckDB: its default memory_limit is 80 percent of RAM with
        # no temp dir, which at the 100x sweep OOM-killed the whole
        # process (kernel SIGKILL at ~113 GB). Capped + spillable, heavy
        # oracles spill to /tmp instead of dying.
        c = duckdb.connect()
        c.execute("SET memory_limit='24GB'")
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        return c

    con = connect()

    def copy(sql: str) -> None:
        # FRESH connection per table COPY: at mult=300 each multi-GB COPY
        # leaves the buffer pool fragmented enough that the NEXT one dies
        # allocating kilobytes (observed twice: embeddings after the doc
        # rewrite, events after lineitem). A connection per COPY resets
        # the pool; generation is sequential so this costs nothing.
        nonlocal con
        con.close()
        con = connect()
        con.execute(sql)

    os.makedirs(out_dir, exist_ok=True)
    # fixed tables: verbatim copy (cheap, keeps load_table paths uniform)
    for t in TABLES:
        if t in ("lineitem", "orders", "events", "documents"):
            continue
        src = os.path.join(BASE, f"{t}.parquet")
        if os.path.exists(src):
            shutil.copyfile(src, os.path.join(out_dir, f"{t}.parquet"))
    okey_span = con.execute(
        f"SELECT max(o_orderkey) + 1 FROM '{BASE}/orders.parquet'"
    ).fetchone()[0]
    ekey_span = con.execute(
        f"SELECT max(event_id) + 1 FROM '{BASE}/events.parquet'"
    ).fetchone()[0]
    reps = ", ".join(str(i) for i in range(mult))

    def where(key_expr: str) -> str:
        if slice_div is None:
            return ""
        return f"WHERE {_gate(key_expr, slice_div)}"

    copy(
        f"""
        COPY (
          SELECT o_orderkey + r.i * {okey_span} AS o_orderkey,
                 o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                 o_orderpriority
          FROM '{BASE}/orders.parquet', (SELECT unnest([{reps}]) AS i) r
          {where(f"o_orderkey + r.i * {okey_span}")}
        ) TO '{out_dir}/orders.parquet' (FORMAT PARQUET)
        """
    )
    price = (
        "l_extendedprice + (r.i % 100) * 0.01" if distinct
        else "l_extendedprice"
    )
    copy(
        f"""
        COPY (
          SELECT l_orderkey + r.i * {okey_span} AS l_orderkey,
                 l_partkey, l_suppkey, l_linenumber, l_quantity,
                 {price} AS l_extendedprice, l_discount, l_tax,
                 l_returnflag, l_linestatus, l_shipdate
          FROM '{BASE}/lineitem.parquet', (SELECT unnest([{reps}]) AS i) r
          {where(f"l_orderkey + r.i * {okey_span}")}
        ) TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    if distinct:
        ukey_span = con.execute(
            f"SELECT max(user_id) + 1 FROM '{BASE}/events.parquet'"
        ).fetchone()[0]
        ev_user = f"user_id + r.i * {ukey_span}"
        ev_ts = "ts + r.i * (INTERVAL 31 DAY)"
    else:
        ev_user, ev_ts = "user_id", "ts"
    copy(
        f"""
        COPY (
          SELECT event_id + r.i * {ekey_span} AS event_id,
                 {ev_ts} AS ts, {ev_user} AS user_id,
                 event_type, value, props
          FROM '{BASE}/events.parquet', (SELECT unnest([{reps}]) AS i) r
          {where(ev_user)}
        ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)
        """
    )
    # documents ×mult with offset doc_ids: the synthetic paragraph/URL/flag
    # derivations are doc_id-arithmetic, so replicas generate DIFFERENT
    # boilerplate mixes per id band while shared boilerplate paragraphs'
    # document frequency inflates ×mult — exactly the dedup stress we want
    dkey_span = con.execute(
        f"SELECT max(doc_id) + 1 FROM '{BASE}/documents.parquet'"
    ).fetchone()[0]
    if distinct:
        # replica 0 verbatim; replicas > 0 token-rewritten through the
        # wide-vocab md5 machinery (tools/difftest.widevocab_dir's
        # suffixing, with the replica index folded into the hash): fresh
        # vocabulary, fresh paragraphs — dedup cannot collapse replicas.
        # Empty tokens stay verbatim so whitespace layout survives.
        # ROW-WISE list_transform, not unnest+reaggregate: the lateral
        # generate_series form copies each doc's token list once per
        # position (O(tokens²) memory at 300× — OOM'd even at an 80 GB
        # cap), where the per-row lambda streams in O(row).
        h = (
            "('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || "
            "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), "
            "1, 8))::BIGINT"
        )
        rewrite = f"""
            array_to_string(
              list_transform(
                string_split(text, ' '),
                (w, pos) -> CASE
                  WHEN w = '' THEN w
                  WHEN {h} % 4 = 0 THEN w
                  ELSE w || '_' || CAST({h} % 64 AS VARCHAR)
                END),
              ' ')"""
        copy(
            f"""
            COPY (
              SELECT doc_id + r.i * {dkey_span} AS doc_id,
                     CASE WHEN r.i = 0 OR text IS NULL THEN text
                          ELSE {rewrite} END AS text,
                     lang, source,
                     CASE WHEN r.i = 0 OR text IS NULL THEN n_chars
                          ELSE length({rewrite}) END AS n_chars
              FROM '{BASE}/documents.parquet',
                   (SELECT unnest([{reps}]) AS i) r
              {where(f"doc_id + r.i * {dkey_span}")}
            ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
            """
        )
    else:
        copy(
            f"""
            COPY (
              SELECT doc_id + r.i * {dkey_span} AS doc_id,
                     text, lang, source, n_chars
              FROM '{BASE}/documents.parquet', (SELECT unnest([{reps}]) AS i) r
              {where(f"doc_id + r.i * {dkey_span}")}
            ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
            """
        )
    # embeddings ×mult with offset vec_ids: replicas share the exact vector,
    # so SemDeDup clusters inflate ×mult past the cluster cap and cosine
    # pairs go clique-shaped — the stress the cap exists for. The clone
    # conventions offset by 10M, far above any swept vec_id span.
    vkey_span = con.execute(
        f"SELECT max(vec_id) + 1 FROM '{BASE}/embeddings.parquet'"
    ).fetchone()[0]
    copy(
        f"""
        COPY (
          SELECT vec_id + r.i * {vkey_span} AS vec_id, embedding, label
          FROM '{BASE}/embeddings.parquet', (SELECT unnest([{reps}]) AS i) r
          {where(f"vec_id + r.i * {vkey_span}")}
        ) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)
        """
    )


def check_schemas(spark, out_dir: str) -> None:
    """Every synthesized table must carry the footer schema the engine pins
    (catalog.SCHEMAS): load_table reads with it instead of inferring, so a
    type the DuckDB COPY drifted to would be misread, not rejected."""
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(path):
            got = spark.read.parquet(path).schema
            assert got == StructType.fromDDL(SCHEMAS[t]), (
                f"{path}: {got.simpleString()}"
            )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default="/tmp/spark_graft_sf1")
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument("--no-diff", action="store_true",
                    help="linearity timing only, skip the differential")
    ap.add_argument("--heavy", action="store_true",
                    help="run the HEAVY_QUERIES 100x family")
    ap.add_argument("--entities", choices=["replica", "distinct"],
                    default="replica",
                    help="corpus synthesis mode (round-7 verdict #2): "
                    "'replica' clones rows with key offsets (join "
                    "structure preserved, but cloned users make "
                    "stream-join pairs quadratic and cloned domains "
                    "make histogram plans artificially flat); "
                    "'distinct' synthesizes fresh entities — new "
                    "user_ids on fresh months, perturbed prices, "
                    "md5-rewritten doc texts — the shape a production "
                    "feed actually has at scale.")
    ap.add_argument("--slice", type=int, default=None, metavar="DIV",
                    help="differential-only mode over a deterministic "
                    "md5-gated 1/DIV slice of the mult x corpus "
                    "(VERDICT r6 #1): the slice keeps the full mult x "
                    "key space / id-band diversity at a volume the "
                    "DuckDB oracle can execute inside its 24 GiB cap, "
                    "so the 30 heavy queries whose full-300x oracle "
                    "OOMs still get a value check on the 300x corpus. "
                    "No timing ratios are reported in this mode.")
    ap.add_argument("--batch", type=int, default=15,
                    help="max queries per JVM: one local[32] JVM exhausts "
                    "native thread-local memory after ~20 consecutive "
                    "heavy 100x queries (docs/PERF.md); longer lists "
                    "re-exec in fresh child processes. 0 disables.")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    if args.slice is not None and args.out == "/tmp/spark_graft_sf1":
        args.out = f"/tmp/spark_graft_slice{args.slice}_m{args.mult}"
    if (
        args.entities == "distinct"
        and args.out.startswith("/tmp/spark_graft_")
        # batch child re-exec passes the already-suffixed dir back in
        # together with --entities distinct — don't suffix twice
        and not args.out.endswith("_distinct")
    ):
        args.out += "_distinct"

    if not args.skip_gen:
        t0 = time.time()
        generate(args.mult, args.out, slice_div=args.slice,
                 distinct=args.entities == "distinct")
        print(f"# generated {args.mult}x {args.entities} fact tables"
              f"{f' (1/{args.slice} md5 slice)' if args.slice else ''}"
              f" in {time.time()-t0:.1f}s",
              file=sys.stderr)

    default = HEAVY_QUERIES if args.heavy else SCALING_QUERIES
    names = args.names or [n for n in default if n in REGISTRY]

    if args.batch and len(names) > args.batch:
        # self-batch: run each chunk in a fresh process (fresh JVM), merge
        # the one-line JSON results
        import subprocess

        merged: dict = {}
        fails = 0
        for i in range(0, len(names), args.batch):
            chunk = names[i : i + args.batch]
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--skip-gen", "--mult", str(args.mult),
                "--out", args.out, "--batch", "0",
                "--entities", args.entities,
            ] + (["--no-diff"] if args.no_diff else []) \
              + (["--slice", str(args.slice)] if args.slice else []) + chunk
            proc = subprocess.run(cmd, capture_output=True, text=True)
            sys.stderr.write(proc.stderr[-2000:])
            last = [l for l in proc.stdout.splitlines() if l.startswith("{")]
            if not last:
                print(f"# batch {chunk[0]}.. produced no result "
                      f"(rc={proc.returncode})", file=sys.stderr)
                fails += len(chunk)
                continue
            part = json.loads(last[-1])
            merged.update(part["queries"])
            fails += part["scale_sweep"]["fails"]
        ratios = sorted(v["ratio"] for v in merged.values() if "ratio" in v)
        med = ratios[len(ratios) // 2] if ratios else None
        summary = {"mult": args.mult, "n": len(merged),
                   "fails": fails, "median_ratio": med,
                   "entities": args.entities}
        if args.slice:
            summary["slice"] = args.slice
        print(json.dumps({"scale_sweep": summary, "queries": merged}))
        return

    spark = get_spark()
    check_schemas(spark, args.out)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from difftest import run_one  # same comparator as the pre-commit gate

    con = duckdb.connect()
    # cap DuckDB: its default memory_limit is 80 percent of RAM with no
    # temp dir, which at the 100x sweep OOM-killed the whole process
    # (kernel SIGKILL at ~113 GB). Capped + spillable, heavy oracles
    # spill to /tmp instead of dying.
    con.execute("SET memory_limit='24GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        src = os.path.join(args.out, f"{t}.parquet")
        if os.path.exists(src):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    results = {}
    fails = 0
    if args.slice is not None:
        # differential-only mode over the sliced corpus: the value check
        # IS the product; linearity timing is the plain sweep's job.
        for name in names:
            t0 = time.time()
            if oracle_of(REGISTRY[name]):
                ok, msg = run_one(spark, con, name, args.out)
            else:
                ok, msg = True, "rows-only (no oracle)"
            wall = time.time() - t0
            fails += 0 if ok else 1
            results[name] = {"ok": ok, "diff_s": round(wall, 2),
                             "mode": f"slice{args.slice}@{args.mult}x"}
            print(f"{name:32s} {wall:7.1f}s  "
                  f"{'ok' if ok else 'FAIL ' + msg}")
        print(json.dumps({
            "scale_sweep": {"mult": args.mult, "slice": args.slice,
                            "n": len(names), "fails": fails,
                            "median_ratio": None},
            "queries": results,
        }))
        sys.exit(1 if fails else 0)

    for name in names:
        # Spark-only wall at both scales (the linearity signal), then the
        # full differential at mult× UNTIMED — collecting millions of rows
        # into the Python comparator would otherwise dominate t_big and
        # fake a superlinearity flag.
        t0 = time.time()
        REGISTRY[name].spark(spark, BASE).collect()
        t_base = time.time() - t0
        t0 = time.time()
        REGISTRY[name].spark(spark, args.out).collect()
        t_big = time.time() - t0
        if oracle_of(REGISTRY[name]) and not args.no_diff:
            ok, msg = run_one(spark, con, name, args.out)
        else:
            ok, msg = True, "rows-only"
        ratio = t_big / max(t_base, 1e-3)
        flag = "" if ratio <= args.mult * 2.5 else "  <-- SUPERLINEAR?"
        status = "ok" if ok else f"FAIL {msg}"
        fails += 0 if ok else 1
        results[name] = {
            "base_s": round(t_base, 3),
            "big_s": round(t_big, 3),
            "ratio": round(ratio, 2),
            "ok": ok,
        }
        print(f"{name:32s} {t_base:7.2f}s -> {t_big:7.2f}s  "
              f"x{ratio:5.1f}  {status}{flag}")

    summary = {
        "mult": args.mult,
        "n": len(names),
        "fails": fails,
        "entities": args.entities,
        "median_ratio": sorted(r["ratio"] for r in results.values())[
            len(results) // 2
        ],
    }
    print(json.dumps({"scale_sweep": summary, "queries": results}))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
