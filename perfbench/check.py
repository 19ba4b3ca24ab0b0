"""Output checker: every document's output against its closed form.

A document fails when its row is missing or duplicated, when an ``ok``
document's spans, page count or error differ from the generator's, or,
in curation, when it is dropped into a cluster whose keeper is below the
Jaccard threshold. A poison document passes when it yields exactly one
row, with or without an error. Failures are counted per document class.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List

from .corpus import Expected

_NON_TOKEN = re.compile(r"[^a-z0-9 ]")


@dataclass
class Result:
    attempted: int
    failed: int = 0
    failed_by_class: Dict[str, int] = field(default_factory=dict)
    examples: List[str] = field(default_factory=list)
    extra: Dict[str, float] = field(default_factory=dict)

    def fail(self, cls: str, msg: str) -> None:
        self.failed += 1
        self.failed_by_class[cls] = self.failed_by_class.get(cls, 0) + 1
        if len(self.examples) < 5:
            self.examples.append(msg)


def _row_counts(rows: List[dict], expected: Dict[str, Expected],
                res: Result) -> Dict[str, dict]:
    """doc_id -> its single row; missing, duplicated and unknown ids fail."""
    counts = Counter(str(r["doc_id"]) for r in rows)
    for doc_id in counts.keys() - expected.keys():
        res.fail("unknown", f"{doc_id}: row for a doc not in the corpus")
    by_id = {str(r["doc_id"]): r for r in rows}
    out = {}
    for doc_id, e in expected.items():
        n = counts.get(doc_id, 0)
        if n != 1:
            res.fail(e.label, f"{doc_id}: {n} rows")
        else:
            out[doc_id] = by_id[doc_id]
    return out


def check_spans(expected: Dict[str, Expected], rows: List[dict]) -> Result:
    """Extraction output rows (doc_id, spans, n_pages, error)."""
    res = Result(attempted=len(expected))
    for doc_id, row in _row_counts(rows, expected, res).items():
        e = expected[doc_id]
        if e.cls == "poison":
            continue
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in row["spans"] or []]
        want = [(k, t, m, i) for i, (k, t, m) in enumerate(e.spans)]
        if row["error"] is not None:
            res.fail(e.label, f"{doc_id}: error {row['error'][:80]!r}")
        elif got != want:
            res.fail(e.label, f"{doc_id}: spans differ")
        elif row["n_pages"] != e.n_pages:
            res.fail(e.label, f"{doc_id}: n_pages {row['n_pages']} != {e.n_pages}")
    return res


def tokens(text: str) -> set:
    """The token set dedup compares (operators.dedup._norm_tokens)."""
    return set(_NON_TOKEN.sub(" ", text.lower()).split())


def jaccard(a: set, b: set) -> float:
    return len(a & b) / max(len(a | b), 1)


def expected_chunks(text: str, chunk_chars: int, overlap: int) -> List[str]:
    stride = chunk_chars - overlap
    n = max(1, -(-len(text) // stride))
    return [text[k * stride:k * stride + chunk_chars] for k in range(n)]


def check_curate(expected: Dict[str, Expected], chunk_rows: List[dict],
                 cluster_rows: List[dict], threshold: float,
                 chunk_chars: int, overlap: int) -> Result:
    """Curation output: clusters (doc_id, cluster_id) and the chunk
    table (doc_id, chunk_idx, n_chunks, chunk_text)."""
    res = Result(attempted=len(expected))
    cluster = {}
    for r in cluster_rows:
        d = str(r["doc_id"])
        cluster[d] = str(r["cluster_id"]) if d not in cluster else None
    chunks: Dict[str, List[dict]] = {}
    for r in chunk_rows:
        chunks.setdefault(str(r["doc_id"]), []).append(r)
    tok = {}

    def toks(d):
        if d not in tok:
            tok[d] = tokens(expected[d].text)
        return tok[d]

    for doc_id, e in expected.items():
        label = e.label
        got = chunks.get(doc_id, [])
        if e.cls == "lowq":
            if doc_id in cluster or got:
                res.fail(label, f"{doc_id}: low-quality doc survived the gate")
            continue
        if doc_id not in cluster:
            res.fail(label, f"{doc_id}: no cluster row")
            continue
        keeper = cluster[doc_id]
        if keeper is None:
            res.fail(label, f"{doc_id}: duplicated cluster rows")
        elif keeper == doc_id:
            want = expected_chunks(e.text, chunk_chars, overlap)
            have = [r["chunk_text"] for r in sorted(got, key=lambda r: r["chunk_idx"])]
            if have != want or any(r["n_chunks"] != len(want) for r in got):
                res.fail(label, f"{doc_id}: chunks differ ({len(have)} vs {len(want)})")
        elif got:
            res.fail(label, f"{doc_id}: dropped as duplicate but chunked")
        elif keeper not in expected or jaccard(toks(doc_id), toks(keeper)) < threshold:
            res.fail(label, f"{doc_id}: false merge into {keeper}")
    planted = [(d, str(e.ref)) for d, e in expected.items() if e.cls == "dup"]
    hits = sum(cluster.get(d) is not None and cluster.get(d) == cluster.get(r)
               for d, r in planted)
    res.extra["dedup.planted_recall"] = hits / max(len(planted), 1)
    return res
