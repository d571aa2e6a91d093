"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy/pyarrow in the benchmark process and runs before any
timed window. The same seed and size always give byte-identical files, and
the engine only ever sees the files written here.

Four input kinds:

- ``tables``: the ten fixture tables the registry queries read (the
  TPC-H-ish star schema plus ``events``, ``documents`` and ``embeddings``),
  with the schemas and value domains FIXTURES.md documents.
- ``markdown_dir``: a directory of markdown files for the CLI ``extract``
  front door, with a stated fraction of byte-identical copies.
- ``pdf``: one text PDF for the CLI ``extract`` front door's PDF branch.
- ``corpus``: one document corpus written twice, as a docs parquet and as
  the same documents packed into WARC files (plus the uri lookup the WARC
  pipeline joins), with stated exact-duplicate, near-duplicate and
  boilerplate-paragraph fractions.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)

EXACT_DUP_FRACTION = 0.10  # markdown files and corpus docs
NEAR_DUP_FRACTION = 0.10  # corpus docs: perturbed clone of an earlier doc
BOILERPLATE_FRACTION = 0.25  # corpus docs: carry one shared boilerplate paragraph
BOILERPLATE = (
    "subscribe to our newsletter for the latest updates",
    "all rights reserved copyright example corp",
    "accept cookies to continue reading this page",
)
# one high-repetition paragraph per spam doc: the WARC pipeline's
# Gopher repetition gate must drop these
SPAM_FRACTION = 0.05
SPAM_PARA = " ".join(["buy cheap pills now"] * 30)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(days: np.ndarray, base: datetime) -> pa.Array:
    us = (days * 86400 * 1_000_000).astype("int64")
    base_us = int((base - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us + base_us, type=pa.timestamp("us"))


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """The ten registry fixture tables at scale factor ``sf`` (row counts
    follow FIXTURES.md: lineitem = 6,000 x sf/0.001)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    k = sf / 0.001
    n_c, n_s, n_p = int(150 * k), max(10, int(10 * k)), int(200 * k)
    n_o, n_l, n_e = int(1500 * k), int(6000 * k), int(1000 * k)
    n_doc = 5000 if sf >= 0.1 else 500
    n_emb = 2000 if sf >= 0.1 else 500
    rows: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        t = pa.table(cols)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2),
    })
    adj = np.array("small red blue hot old large new cold".split())
    noun = np.array("ring widget bolt gear gizmo plate anvil rod".split())
    ptype = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    put("part", {
        "p_partkey": np.arange(n_p, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_p)], " "),
                              noun[rng.integers(0, 8, n_p)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": ptype[rng.integers(0, 6, n_p)],
        "p_size": rng.integers(1, 51, n_p).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": np.arange(n_o, dtype="int64"),
        "o_custkey": rng.integers(0, n_c, n_o).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_o), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n_o), datetime(1995, 1, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)],
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_o, n_l).astype("int64"),
        "l_partkey": rng.integers(0, n_p, n_l).astype("int64"),
        "l_suppkey": rng.integers(0, n_s, n_l).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_l).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_l).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(rng.integers(1, 2498, n_l), datetime(1995, 1, 1)),
    })
    # events: monotone timestamps over 30 days, like a stream log
    gaps = rng.exponential(30 * 86400 / max(n_e, 1), n_e)
    secs = np.minimum(np.cumsum(gaps), 30 * 86400 - 1)
    put("events", {
        "event_id": np.arange(n_e, dtype="int64"),
        "ts": _ts(secs / 86400.0, datetime(2024, 1, 1)),
        "user_id": rng.integers(0, 150, n_e).astype("int64"),
        "event_type": np.array(["view", "click", "signup", "purchase", "error"])[
            rng.integers(0, 5, n_e)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_e), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_e)],
    })
    # documents: word streams; ~5% are a copy of an earlier doc plus
    # trailing "dup" tokens (the fixture's near-duplicate shape)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(_words(rng, int(rng.integers(10, 100))))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.14 * centroids[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    return rows


def _markdown_page(rng: np.random.Generator, i: int) -> str:
    sections = []
    for s in range(int(rng.integers(2, 5))):
        paras = "\n\n".join(
            _words(rng, int(rng.integers(20, 80))) + "."
            for _ in range(int(rng.integers(1, 4)))
        )
        sections.append(f"## Section {s} {VOCAB[int(rng.integers(0, len(VOCAB)))]}\n\n{paras}")
    code = ""
    if rng.random() < 0.3:
        code = "\n\n```python\ndf = spark.read.parquet(path)\ndf.groupBy('key').count()\n```"
    return f"# Page {i} about spark {VOCAB[i % len(VOCAB)]}\n\n" + "\n\n".join(sections) + code + "\n"


def markdown_dir(out_dir: str, seed: int, n_files: int) -> dict[str, int]:
    """``n_files`` markdown files in 8 subdirectories; a fraction
    EXACT_DUP_FRACTION of them are byte copies of an earlier file."""
    rng = np.random.default_rng([seed, 2])
    shutil.rmtree(out_dir, ignore_errors=True)
    bodies: list[str] = []
    n_dup = 0
    for i in range(n_files):
        if i >= 10 and rng.random() < EXACT_DUP_FRACTION:
            bodies.append(bodies[int(rng.integers(0, i))])
            n_dup += 1
        else:
            bodies.append(_markdown_page(rng, i))
    for i, body in enumerate(bodies):
        sub = os.path.join(out_dir, f"d{i % 8}")
        os.makedirs(sub, exist_ok=True)
        with open(os.path.join(sub, f"page_{i:05d}.md"), "w") as f:
            f.write(body)
    return {
        "files": n_files,
        "distinct": len(set(bodies)),
        "bytes": sum(len(b.encode()) for b in bodies),
    }


def pdf(path: str, seed: int, n_pages: int) -> dict[str, int]:
    """One PDF 1.4 file of ``n_pages`` pages, each a few lines of seeded
    words in Helvetica: catalog, page tree, font, then one page object and
    one content stream per page, and the cross-reference table."""
    rng = np.random.default_rng([seed, 4])
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    for i in range(n_pages):
        lines = " T* ".join(f"({_words(rng, 10)}) Tj" for _ in range(int(rng.integers(3, 8))))
        stream = f"BT /F1 11 Tf 14 TL 72 720 Td {lines} ET".encode()
        objs.append(f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                    f"/Resources << /Font << /F1 3 0 R >> >> /Contents {5 + 2 * i} 0 R >>".encode())
        objs.append(b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream))
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for n, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (n, body)
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(out)
    return {"pdf_pages": n_pages, "pdf_bytes": len(out)}


def _warc_record(uri: str, text: str) -> bytes:
    payload = text.encode()
    head = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\nContent-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def corpus(out_dir: str, seed: int, n_docs: int, n_warc_files: int = 8) -> dict[str, int]:
    """One corpus of ``n_docs`` docs written as ``docs.parquet`` (doc_id,
    text, lang, source), as WARC files under ``warc/`` and as
    ``uri_lookup.parquet`` (uri, doc_id, lang, source). Paragraphs are
    separated by a blank line."""
    rng = np.random.default_rng([seed, 3])
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "warc"))
    texts: list[str] = []
    originals: list[int] = []
    kinds = {"exact_dup": 0, "near_dup": 0, "boilerplate": 0, "spam": 0}
    for i in range(n_docs):
        # duplicates always copy an original, never another duplicate, so
        # every duplicate cluster is a star of the same small diameter
        r = rng.random()
        if i >= 20 and r < EXACT_DUP_FRACTION:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
            kinds["exact_dup"] += 1
            continue
        if i >= 20 and r < EXACT_DUP_FRACTION + NEAR_DUP_FRACTION:
            base = texts[originals[int(rng.integers(0, len(originals)))]].split("\n\n")
            texts.append("\n\n".join("v2 " + p for p in base))
            kinds["near_dup"] += 1
            continue
        paras = [_words(rng, int(rng.integers(25, 70)))
                 for _ in range(int(rng.integers(2, 6)))]
        if rng.random() < BOILERPLATE_FRACTION:
            paras.append(BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
            kinds["boilerplate"] += 1
        if rng.random() < SPAM_FRACTION:
            paras.append(SPAM_PARA)
            kinds["spam"] += 1
        originals.append(i)
        texts.append("\n\n".join(paras))
    ids = np.arange(n_docs, dtype="int64")
    langs = np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]
    sources = [f"site{i % 16}" for i in range(n_docs)]
    uris = [f"https://site{i % 16}.example.com/doc/{i}" for i in range(n_docs)]
    _write(pa.table({"doc_id": ids, "text": texts, "lang": langs, "source": sources}),
           os.path.join(out_dir, "docs.parquet"))
    _write(pa.table({"uri": uris, "doc_id": ids, "lang": langs, "source": sources}),
           os.path.join(out_dir, "uri_lookup.parquet"))
    warc_bytes = 0
    for f in range(n_warc_files):
        blob = b"".join(_warc_record(uris[i], texts[i]) for i in range(f, n_docs, n_warc_files))
        warc_bytes += len(blob)
        with open(os.path.join(out_dir, "warc", f"part-{f:05d}.warc"), "wb") as fh:
            fh.write(blob)
    return {
        "docs": n_docs,
        "text_bytes": sum(len(t.encode()) for t in texts),
        "warc_bytes": warc_bytes,
        "warc_files": n_warc_files,
        **kinds,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total

