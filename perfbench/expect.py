"""Output checker, independent of the engine's code.

Expected spans come straight from the generated documents by the span
synthesis rule (the arithmetic of the oracle's ``_SPANS_CTE``), written here
in plain pandas/Python: split the trimmed text on single spaces, cut it into
8-word chunks, and mark chunk ``i`` of document ``d`` as media when
``(d + i) % 3 == 0``. A media span's expected text is its chunk lowercased
with whitespace collapsed (what span-exact OCR of the rendered chunk reads);
a text span passes through verbatim.

A document's output fails when its span sequence is wrong, missing or
duplicated. ``selftest`` injects a dropped span, two swapped offsets and a
duplicated document into a correct output and requires each to be caught.
"""

from __future__ import annotations

import math
import re

import pandas as pd

CHUNK_WORDS = 8
MEDIA_MOD = 3

Span = tuple  # (kind, text, media_ref, offset)


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def expected_spans(docs: pd.DataFrame) -> dict[str, list[Span]]:
    """doc_id (as string, the engine's output key type) -> span list."""
    out: dict[str, list[Span]] = {}
    for d, text in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        words = text.strip().split(" ")
        spans = []
        for i in range(math.ceil(len(words) / CHUNK_WORDS)):
            chunk = " ".join(words[i * CHUNK_WORDS:(i + 1) * CHUNK_WORDS])
            if (d + i) % MEDIA_MOD == 0:
                spans.append(("media", _norm(chunk.lower()), f"m-{d}-{i}", i))
            else:
                spans.append(("text", chunk, None, i))
        out[str(d)] = spans
    return out


def media_span_count(expected: dict[str, list[Span]]) -> int:
    return sum(1 for spans in expected.values() for s in spans if s[0] == "media")


def output_spans(rows) -> list[tuple[str, list[Span]]]:
    """Collected (doc_id, spans) rows -> plain tuples."""
    out = []
    for r in rows:
        spans = [(s["kind"], s["text"], s["media_ref"], int(s["offset"])) for s in r["spans"]]
        out.append((str(r["doc_id"]), spans))
    return out


def failed_docs(expected: dict[str, list[Span]], got: list[tuple[str, list[Span]]]) -> int:
    """Number of documents whose output is wrong, missing or duplicated
    (a document emitted twice counts once, as do unexpected doc ids)."""
    seen: dict[str, int] = {}
    bad = set()
    for doc_id, spans in got:
        seen[doc_id] = seen.get(doc_id, 0) + 1
        if expected.get(doc_id) != spans:
            bad.add(doc_id)
    bad.update(d for d, n in seen.items() if n > 1)
    bad.update(d for d in expected if d not in seen)
    return len(bad)


def store_failures(expected: dict[str, list[Span]], out_rows, lineage, metrics,
                   n_buckets: int) -> list[str]:
    """Checkpoint invariants of one kill-then-resume run: every document
    exactly once across buckets, one lineage row per bucket covering all of
    them, and the per-partition metrics counting every media span once."""
    problems = []
    by_doc: dict[str, set] = {}
    for r in out_rows:
        by_doc.setdefault(str(r["doc_id"]), set()).add(int(r["bucket"]))
    multi = [d for d, b in by_doc.items() if len(b) > 1]
    if multi:
        problems.append(f"{len(multi)} docs in more than one bucket")
    buckets = sorted(int(r["bucket"]) for r in lineage)
    if buckets != list(range(n_buckets)):
        problems.append(f"lineage buckets {buckets} != 0..{n_buckets - 1}")
    n_docs = sum(int(r["n_docs"]) for r in lineage)
    if n_docs != len(expected):
        problems.append(f"lineage n_docs {n_docs} != {len(expected)}")
    n_spans = sum(int(r["n_spans"]) for r in metrics)
    if n_spans != media_span_count(expected):
        problems.append(f"metrics n_spans {n_spans} != {media_span_count(expected)}")
    return problems


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a query result: sorted column names and
    the sorted multiset of rows rendered as strings (floats to 6 places)."""
    cols = sorted(df.columns)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        return str(v)

    rows = sorted(tuple(cell(v) for v in row) for row in df[cols].itertuples(index=False))
    return cols, rows


def selftest(docs: pd.DataFrame) -> list[str]:
    """Inject three faults into a correct output; return the ones missed."""
    expected = expected_spans(docs)
    good = [(d, list(s)) for d, s in expected.items()]
    missed = []
    if failed_docs(expected, good) != 0:
        missed.append("clean output flagged")
    victim = next(i for i, (_, s) in enumerate(good) if len(s) >= 2)

    dropped = [(d, list(s)) for d, s in good]
    dropped[victim][1].pop()
    if failed_docs(expected, dropped) != 1:
        missed.append("dropped span")

    swapped = [(d, list(s)) for d, s in good]
    s = swapped[victim][1]
    (k0, t0, m0, o0), (k1, t1, m1, o1) = s[0], s[1]
    s[0], s[1] = (k0, t0, m0, o1), (k1, t1, m1, o0)
    if failed_docs(expected, swapped) != 1:
        missed.append("swapped offsets")

    duplicated = good + [good[victim]]
    if failed_docs(expected, duplicated) != 1:
        missed.append("duplicated document")
    return missed
