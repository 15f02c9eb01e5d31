"""Seeded input generators. The program only ever sees what these write.

Every generator takes a ``random.Random`` built from the run's ``--seed``,
so one seed always yields byte-identical inputs. The span corpus mirrors
``ocr_search_spark.corpus.synthesize`` (2-7 spans per doc, a 1% tail of
mega-docs at 40x spans, about a third media spans, HTML / boilerplate /
CJK noise) but keeps its own copy of the vocabulary, so a change to the
program's generator never silently changes the benchmark's inputs.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "the", "a", "and", "of", "to", "in", "is", "that", "for", "with",
    "table", "tables", "query", "queries", "index", "indexes", "scan",
    "scans", "merge", "merges", "merged", "merging", "join", "joins",
    "joined", "joining", "sort", "sorted", "sorting", "filter", "filters",
    "filtered", "partition", "partitions", "shuffle", "shuffles", "batch",
    "batches", "stream", "streams", "streaming", "vector", "vectors",
    "column", "columns", "row", "rows", "page", "pages", "term", "terms",
    "search", "searches", "searched", "searching", "engine", "engines",
    "spark", "data", "kernel", "kernels", "classes", "glasses", "children",
    "men", "women", "feet", "mice", "people", "running", "stopped",
    "data,", "scan.", "query!", "(index)", "merge;", "sort:",
]
# plain lowercase words only: the OCR glyph font covers a-z and 0-9
PLAIN_VOCAB = [w for w in VOCAB if w.isalpha()]
CONTENT_WORDS = PLAIN_VOCAB[10:]  # the first ten are index stopwords
CJK = [
    "機器學習模型", "分散式資料處理", "搜尋引擎索引", "自然語言分析",
    "機器學習", "人工智慧", "資料庫", "搜尋引擎", "文字探勘", "自然語言",
    "深度學習", "演算法",
]
STOPWORD_QUERIES = ["the", "a and of", "to in is", "that for with"]

SPANS_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False),
        ]
    )
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), nullable=False),
        pa.field("spans", SPANS_TYPE, nullable=False),
        pa.field("ori_file_path", pa.string()),
        pa.field("page_idx", pa.int32()),
    ]
)
PAYLOAD_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), nullable=False), pa.field("payload", pa.binary())]
)


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _span_text(rng: random.Random) -> str:
    base = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(5, 12)))
    noise = rng.randrange(5)
    if noise == 0:
        return f'<div class="nav">{base}</div>'
    if noise == 1:
        return f"{base}\ncopyright 2020 acme corp\n{base}"
    if noise == 2:
        return f"• {base} 、{rng.choice(CJK)}"
    if noise == 3:
        return f"{base} {rng.choice(CJK)}"
    return base


def span_docs(rng: random.Random, n_docs: int, tag: str, pages_per_file: int = 4):
    """``n_docs`` documents as dicts (doc_id, spans, ori_file_path,
    page_idx). Exactly ``max(1, n_docs // 100)`` are mega-docs."""
    n_mega = max(1, n_docs // 100)
    mega = set(rng.sample(range(n_docs), n_mega))
    docs = []
    for i in range(n_docs):
        f, page = divmod(i, pages_per_file)
        ext = ("pptx", "docx", "pdf")[f % 3]
        path = f"{tag}/folder{f % 23}/doc_{f}.{ext}"
        doc_id = _sha(f"{path}-{page + 1}")
        n = rng.randint(2, 7) * (40 if i in mega else 1)
        spans = []
        for o in range(n):
            if rng.randrange(3) == 0:
                spans.append(
                    {"kind": "media", "text": "",
                     "media_ref": f"{doc_id}/img-{o}.png", "offset": o}
                )
            else:
                spans.append(
                    {"kind": "text", "text": _span_text(rng), "media_ref": "",
                     "offset": o}
                )
        docs.append(
            {"doc_id": doc_id, "spans": spans, "ori_file_path": path,
             "page_idx": page + 1}
        )
    return docs


def write_docs(docs: list[dict], path: str, n_files: int = 1) -> int:
    """Write documents as ``n_files`` parquet files under ``path``;
    returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    per = -(-len(docs) // n_files)
    for k in range(n_files):
        part = docs[k * per : (k + 1) * per]
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(part, schema=DOCS_SCHEMA), f)
        total += os.path.getsize(f)
    return total


def write_extracted(extracted: dict[str, list[dict]], path: str) -> None:
    """Write (doc_id, spans) rows in the layout of the pipeline's
    ``extracted_spans`` table, one parquet file under ``path``."""
    os.makedirs(path, exist_ok=True)
    rows = [{"doc_id": d, "spans": spans} for d, spans in extracted.items()]
    schema = pa.schema([DOCS_SCHEMA.field("doc_id"), DOCS_SCHEMA.field("spans")])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   os.path.join(path, "part-00000.parquet"))


def ocr_payloads(rng: random.Random, n_docs: int, tag: str):
    """(docs, expected): ``docs`` are (doc_id, payload) dicts, a third
    each PDF, PPTX and PNG; ``expected[doc_id]`` is the list of pages
    (each a list of text lines) the payload encodes, or ``None`` for the
    ~1% corrupt or empty payloads that must come back as error rows."""
    from ocr_search_spark.training import ocrglyph, pdfmini, png, pptxmini

    docs, expected = [], {}
    n_bad = max(1, n_docs // 100)
    bad = set(rng.sample(range(n_docs), n_bad))
    for i in range(n_docs):
        fmt = ("pdf", "pptx", "png")[i % 3]
        doc_id = _sha(f"{tag}/payload-{i}.{fmt}")
        if fmt == "png":
            pages = [[_line(rng) for _ in range(rng.randint(1, 3))]]
            payload = png.encode_png(ocrglyph.render_page(pages[0]))
        elif fmt == "pdf":
            lines = [_line(rng) for _ in range(rng.randint(2, 12))]
            pages = [lines[j : j + 4] for j in range(0, len(lines), 4)]
            payload = pdfmini.encode_pdf(lines, lines_per_page=4)
        else:
            pages = [
                [_line(rng) for _ in range(rng.randint(1, 3))]
                for _ in range(rng.randint(1, 3))
            ]
            payload = pptxmini.encode_pptx(pages)
        if i in bad:
            # empty, or a bare magic number with nothing behind it
            payload = payload[: rng.choice([0, 8])]
            pages = None
        docs.append({"doc_id": doc_id, "payload": payload})
        expected[doc_id] = pages
    return docs, expected


def _line(rng: random.Random) -> str:
    return " ".join(rng.choice(PLAIN_VOCAB) for _ in range(rng.randint(2, 6)))


def write_payloads(docs: list[dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-00000.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=PAYLOAD_SCHEMA), f)


# queries() repeats its mix every MODE_CYCLE entries. Each slot of the
# cycle has a fixed shape; only the words are drawn from the seed:
# ("terms", word count, CJK word appended), ("stop",) for a stopword-only
# query with zero hits, ("boolean",), ("prefix",)
MODE_CYCLE = 10
SLOTS = [
    ("terms", 1, False), ("terms", 2, False), ("terms", 3, True), ("boolean",),
    ("terms", 4, False), ("stop",), ("terms", 2, True), ("prefix",),
    ("terms", 1, False), ("terms", 3, False),
]
BOOL_OPS = ["AND", "OR", "AND NOT"]
MAX_RETURNS = [5, 10, 20]


def queries(rng: random.Random, n: int) -> list[dict]:
    """GET /pages parameter dicts with ``maxReturn`` 5, 10 or 20: 80%
    ``terms`` (1-4 words, a quarter with a CJK word, an eighth
    stopword-only with zero hits), 10% ``boolean``, 10% ``prefix``.
    Every cycle of MODE_CYCLE queries has the same shapes in the same
    order (SLOTS), and the boolean operator follows the cycle (AND, OR,
    AND NOT, AND, ...): the operators compile to different plans and the
    shapes cost different amounts, so drawing them at random would make
    a one-cycle run measure a different query mix from seed to seed."""
    out = []
    for i in range(n):
        kind, *shape = SLOTS[i % MODE_CYCLE]
        if kind == "terms":
            n_words, cjk = shape
            # at least one content word, so the query has hits
            words = [rng.choice(CONTENT_WORDS)]
            words += [rng.choice(PLAIN_VOCAB) for _ in range(n_words - 1)]
            if cjk:
                words.append(rng.choice(CJK[4:]))
            q = {"searchTerm": " ".join(words), "mode": "terms"}
        elif kind == "stop":
            q = {"searchTerm": rng.choice(STOPWORD_QUERIES), "mode": "terms"}
        elif kind == "boolean":
            a, b = rng.sample(CONTENT_WORDS, 2)
            op = BOOL_OPS[(i // MODE_CYCLE) % len(BOOL_OPS)]
            q = {"searchTerm": f"{a} {op} {b}", "mode": "boolean"}
        else:
            stem = rng.choice(CONTENT_WORDS)[: rng.randint(3, 4)]
            q = {"searchTerm": stem + "*", "mode": "prefix"}
        q["maxReturn"] = str(MAX_RETURNS[i % len(MAX_RETURNS)])
        out.append(q)
    return out
