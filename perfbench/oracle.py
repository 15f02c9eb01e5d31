"""Correctness oracles evaluated outside Spark.

Expected values come from ``ocr_search_spark.golden`` (the package's
independent pure-Python spec implementation) and plain set algebra;
actual values are read back from the committed parquet files with
pyarrow, never through the Spark session under test.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_search_spark import golden


def data_files(table_dir: str) -> list[str]:
    """Committed parquet data files under a table directory (any
    partition layout), skipping Spark's hidden and marker files."""
    out = []
    for p in glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True):
        rel = os.path.relpath(p, table_dir)
        if not any(part.startswith((".", "_")) and "=" not in part
                   for part in rel.split(os.sep)):
            out.append(p)
    return sorted(out)


def read_rows(table_dir: str, columns: list[str],
              doc_ids: set[str] | None = None) -> list[dict]:
    """Rows of a table as dicts; with ``doc_ids``, only those docs' rows
    (filtered in Arrow, before any row becomes a Python object)."""
    rows: list[dict] = []
    keep = None if doc_ids is None else pa.array(sorted(doc_ids), pa.string())
    for f in data_files(table_dir):
        t = pq.read_table(f, columns=columns)
        if keep is not None:
            t = t.filter(pc.is_in(t["doc_id"], value_set=keep))
        rows.extend(t.to_pylist())
    return rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _strip(spans: list[dict]) -> list[dict]:
    return [
        {k: s[k] for k in ("kind", "text", "media_ref", "offset")} for s in spans
    ]


def check_extraction(extracted_dir: str, expected: dict[str, list[dict] | None],
                     deep: set[str]) -> list[str]:
    """Committed docs == expected docs. A doc expected as ``None`` must be
    an error row with no spans; every other doc must carry no error, and
    docs in ``deep`` must match their expected spans exactly (span
    sequence equality per doc_id). Only the ``deep`` docs' spans are read.
    Returns failure messages."""
    got = {}
    bad = []
    for r in read_rows(extracted_dir, ["doc_id", "error"]):
        if r["doc_id"] in got:
            bad.append(f"duplicate doc {r['doc_id']}")
        got[r["doc_id"]] = r
    spans = {}
    if deep:
        for r in read_rows(extracted_dir, ["doc_id", "spans"], deep):
            spans[r["doc_id"]] = r["spans"]
    for d in expected.keys() - got.keys():
        bad.append(f"missing doc {d}")
    for d in got.keys() - expected.keys():
        bad.append(f"unexpected doc {d}")
    for d, exp in expected.items():
        r = got.get(d)
        if r is None:
            continue
        if exp is None:
            if r["error"] is None or (d in deep and spans.get(d)):
                bad.append(f"doc {d}: expected an error row")
        elif r["error"] is not None:
            bad.append(f"doc {d}: error {r['error']!r}")
        elif d in deep and _strip(spans.get(d) or []) != exp:
            bad.append(f"doc {d}: spans differ from golden.extract_doc")
    return bad


def read_postings(table_dir: str, doc_ids: set[str] | None = None) -> dict:
    return {(r["term"], r["doc_id"]): r["tf"]
            for r in read_rows(table_dir, ["term", "doc_id", "tf"], doc_ids)}


def check_postings(table_dir: str, extracted: dict[str, list[dict]]) -> list[str]:
    """Postings of the docs in ``extracted`` == golden.term_postings."""
    want = golden.term_postings(extracted)
    got = read_postings(table_dir, set(extracted))
    if got == want:
        return []
    diff = set(got.items()) ^ set(want.items())
    return [f"postings differ on {len(diff)} (term, doc_id, tf) rows, e.g. "
            f"{sorted(diff)[:2]}"]


class QueryOracle:
    """Expected GET /pages hit lists over a (term, doc_id) -> tf map."""

    def __init__(self, postings: dict[tuple[str, str], int]):
        self.by_term: dict[str, dict[str, int]] = {}
        for (t, d), tf in postings.items():
            self.by_term.setdefault(t, {})[d] = tf

    @staticmethod
    def _top(scores: dict[str, int], k: int) -> list[str]:
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return [d for d, _ in ranked[:k]]

    def _max_tf(self, terms, docs=None) -> dict[str, int]:
        scores: dict[str, int] = {}
        for t in terms:
            for d, tf in self.by_term.get(t, {}).items():
                if docs is None or d in docs:
                    scores[d] = max(scores.get(d, 0), tf)
        return scores

    def hits(self, params: dict) -> list[str]:
        q, k = params["searchTerm"], int(params.get("maxReturn", 20))
        mode = params.get("mode", "terms")
        if mode == "terms":
            return self._top(self._max_tf(set(golden.tokenize(q))), k)
        if mode == "prefix":
            stem = q.lower().rstrip("*")
            return self._top(
                self._max_tf([t for t in self.by_term if t.startswith(stem)]), k
            )
        # boolean: "<a> AND|OR|AND NOT <b>", each side one index term
        words = q.split()
        (a,), (b,) = golden.tokenize(words[0]), golden.tokenize(words[-1])
        da, db = set(self.by_term.get(a, {})), set(self.by_term.get(b, {}))
        op = " ".join(words[1:-1])
        if op == "AND":
            return self._top(self._max_tf([a, b], da & db), k)
        if op == "OR":
            return self._top(self._max_tf([a, b], da | db), k)
        return self._top(self._max_tf([a], da - db), k)
