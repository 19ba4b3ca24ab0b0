"""Seeded corpora for the four benchmark workloads.

Every workload corpus is a pure function of (workload, seed, params):
numpy's PCG64 stream drives every choice, and the engine's own public
generators (`sparkpdf.testing.pdfgen`, `sparkpdf.kernels.html`) build the
bytes. Each document carries a closed-form expected outcome:

* ``ok``: the exact span list the engine must emit, derived from the
  planted text, never from the engine;
* ``poison``: a hostile PDF that must yield exactly one row;
* ``lowq``: a curation doc whose quality score is planted below the
  gate, so it must not survive curation;
* ``dup``: a planted near-duplicate of doc ``ref``.

A corpus is written once per (workload, seed, params) key under the cache
directory and re-read on later runs with the same key.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sparkpdf.kernels.html import synthesize_interleaved_html
from sparkpdf.testing.pdfgen import (
    FONT_WINANSI,
    PdfBuilder,
    doc_to_pdf,
    image_whale_pdf,
    simple_pdf,
    text_content,
)

# Size parameters per workload. Changing any value changes the cache
# key, so stale corpora are never reused.
PARAMS: Dict[str, dict] = {
    "pdf_small": {"n_docs": 8000, "vocab": 5000, "zipf_s": 1.1,
                  "pages": [1, 3], "lines_per_page": [2, 6],
                  "words_per_line": [8, 40]},
    "pdf_job_skewed": {"n_docs": 3000, "vocab": 5000, "zipf_s": 1.1,
                       "pages": [1, 3], "lines_per_page": [2, 6],
                       "words_per_line": [8, 40],
                       "multipage_share": 0.10, "multipage_pages": [4, 16],
                       "text_whales": 2, "text_whale_text_mb": [6.0, 9.0],
                       "image_whales": 2, "image_whale_mb": [1.5, 2.5],
                       "poison_share": 0.01, "batches": 2,
                       "big_doc_bytes": 1 << 20},
    "interleaved_mixed": {"n_docs": 12000, "vocab": 5000, "zipf_s": 1.1,
                          "words": [20, 200]},
    "curate_dedup": {"n_docs": 1500, "vocab": 50000, "zipf_s": 1.05,
                     "words": [120, 400], "dup_share": 0.20,
                     "dup_edit_share": 0.04, "lowq_share": 0.03,
                     "pii_share": 0.25, "jaccard": 0.8,
                     "min_quality": 0.5, "chunk_chars": 500,
                     "overlap": 100},
}

# bump when a generator changes what it emits for a given seed
GENERATOR_VERSION = 1

POISON_KINDS = ("cyclic_refs", "garbage_startxref", "unknown_filter",
                "corrupt_flate")


@dataclass
class Expected:
    """Closed-form outcome of one document."""

    cls: str  # ok | poison | lowq | dup
    spans: List[Tuple[str, Optional[str], Optional[str]]] = field(
        default_factory=list)  # (kind, text, media_ref), offset = index
    n_pages: int = 0
    text: str = ""  # curation: the text after pii_scrub
    ref: Optional[int] = None  # dup: the doc it was planted from
    kind: str = ""  # sub-class for reporting (whale_text, cyclic_refs, ...)

    @property
    def label(self) -> str:
        return self.cls if self.cls == self.kind else f"{self.cls}:{self.kind}"


@dataclass
class Corpus:
    workload: str
    seed: int
    path: str  # parquet input the engine reads
    expected: Dict[str, Expected]
    props: dict
    digest: str

    @property
    def n_docs(self) -> int:
        return len(self.expected)


def _vocabulary(rng: np.random.Generator, size: int) -> List[str]:
    """`size` distinct lowercase pseudo-words, 2-10 letters."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    seen = set()
    words: List[str] = []
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 11, n)
        codes = letters[rng.integers(0, 26, int(lens.sum()))].tobytes()
        pos = 0
        for ln in lens:
            w = codes[pos:pos + ln].decode()
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


class _Words:
    """Zipf(s) token sampler over a fixed vocabulary. Indices are drawn
    in large blocks, so a call costs one list slice, not a numpy call."""

    BLOCK = 1 << 18

    def __init__(self, rng: np.random.Generator, size: int, s: float):
        self.rng = rng
        self.words = _vocabulary(rng, size)
        w = 1.0 / np.arange(1, size + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.buf: List[str] = []
        self.pos = 0

    def sample(self, n: int) -> List[str]:
        while self.pos + n > len(self.buf):
            idx = np.searchsorted(self.cdf, self.rng.random(self.BLOCK),
                                  side="right")
            idx = np.minimum(idx, len(self.words) - 1)
            words = self.words
            self.buf = self.buf[self.pos:] + [words[i] for i in idx.tolist()]
            self.pos = 0
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        return out

    def line(self, n: int) -> str:
        return " ".join(self.sample(n))


def _between(rng: np.random.Generator, lo_hi) -> int:
    lo, hi = lo_hi
    return int(rng.integers(lo, hi + 1))


def _spread(lo_hi, i: int, n: int) -> float:
    """The i-th of n values spread evenly over [lo, hi]."""
    lo, hi = lo_hi
    return lo + (hi - lo) * i / max(n - 1, 1)


def _text_pdf(pages: List[List[str]]) -> bytes:
    """One flate content stream per page, one Tj per line. With the
    WinAnsi font each line extracts as itself plus a newline."""
    return simple_pdf(
        [text_content(lines) for lines in pages],
        fonts={b"/F1": FONT_WINANSI},
        content_filters=["FlateDecode"],
    )


def _text_doc(words: _Words, rng, p: dict, n_pages: int) -> Tuple[bytes, Expected]:
    pages = [
        [words.line(_between(rng, p["words_per_line"]))
         for _ in range(_between(rng, p["lines_per_page"]))]
        for _ in range(n_pages)
    ]
    spans = [("text", line + "\n", None) for lines in pages for line in lines]
    return _text_pdf(pages), Expected("ok", spans, n_pages, kind="text")


def _page_tree_pdf(content_ref_body) -> bytes:
    """Single-page PDF whose content stream body is supplied raw."""
    b = PdfBuilder()
    f1 = b.add(FONT_WINANSI)
    cref = b.add(content_ref_body)
    page = b.add(b"<< /Type /Page /Parent 4 0 R /Resources << /Font"
                 b" << /F1 %d 0 R >> >> /Contents %d 0 R >>" % (f1, cref))
    pages = b.add(b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page)
    assert pages == 4
    root = b.add(b"<< /Type /Catalog /Pages 4 0 R >>")
    return b.build(root)


def poison_pdf(kind: str, i: int) -> bytes:
    if kind == "cyclic_refs":
        b = PdfBuilder()
        b.add(b"2 0 R")
        b.add(b"1 0 R")
        root = b.add(b"<< /Type /Catalog /Pages 1 0 R >>")
        return b.build(root)
    if kind == "garbage_startxref":
        return simple_pdf([text_content([f"poison {i}"])],
                          startxref_garbage=True)
    if kind == "unknown_filter":
        raw = b"BT /F1 12 Tf (poison %d) Tj ET" % i
        return _page_tree_pdf(
            b"<< /Filter /FooDecode /Length %d >>\nstream\n" % len(raw)
            + raw + b"\nendstream")
    if kind == "corrupt_flate":
        raw = (zlib.compress(b"BT /F1 12 Tf (poison %d) Tj ET" % i)[:6]
               + b"\x00corrupt" * 16)
        return _page_tree_pdf(
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(raw)
            + raw + b"\nendstream")
    raise ValueError(kind)


def _gen_pdf_small(rng, p) -> Tuple[List[bytes], List[Expected]]:
    words = _Words(rng, p["vocab"], p["zipf_s"])
    blobs, exp = [], []
    for _ in range(p["n_docs"]):
        blob, e = _text_doc(words, rng, p, _between(rng, p["pages"]))
        blobs.append(blob)
        exp.append(e)
    return blobs, exp


def _gen_pdf_job_skewed(rng, p) -> Tuple[List[bytes], List[Expected]]:
    words = _Words(rng, p["vocab"], p["zipf_s"])
    n = p["n_docs"]
    n_poison = max(len(POISON_KINDS), int(round(n * p["poison_share"])))
    n_multi = int(round(n * p["multipage_share"]))
    kinds = (["poison"] * n_poison + ["whale_text"] * p["text_whales"]
             + ["whale_image"] * p["image_whales"] + ["multipage"] * n_multi)
    kinds += ["small"] * (n - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(n)]
    blobs, exp = [], []
    n_seen = {"poison": 0, "whale_text": 0, "whale_image": 0}
    for k in kinds:
        if k == "small":
            blob, e = _text_doc(words, rng, p, _between(rng, p["pages"]))
        elif k == "multipage":
            blob, e = _text_doc(words, rng, p,
                                _between(rng, p["multipage_pages"]))
            e.kind = "multipage"
        elif k == "whale_text":
            # whale sizes are spread evenly over the range, not drawn,
            # so the corpus's byte total does not swing with the seed
            target = _spread(p["text_whale_text_mb"], n_seen[k],
                             p["text_whales"]) * (1 << 20)
            pages, total = [], 0
            while total < target:
                lines = [words.line(40) for _ in range(200)]
                total += sum(len(x) + 1 for x in lines)
                pages.append(lines)
            blob = _text_pdf(pages)
            spans = [("text", ln + "\n", None) for lines in pages
                     for ln in lines]
            e = Expected("ok", spans, len(pages), kind="whale_text")
        elif k == "whale_image":
            i = n_seen[k]
            size = int(_spread(p["image_whale_mb"], i, p["image_whales"])
                       * (1 << 20))
            blob = image_whale_pdf(i, size)
            e = Expected("ok", [("text", f"image whale {i}\n", None),
                                ("media_ref", None, "imgW")], 1,
                         kind="whale_image")
        else:
            i = n_seen[k]
            pk = POISON_KINDS[i % len(POISON_KINDS)]
            blob, e = poison_pdf(pk, i), Expected("poison", kind=pk)
        if k in n_seen:
            n_seen[k] += 1
        blobs.append(blob)
        exp.append(e)
    return blobs, exp


def _gen_interleaved(rng, p) -> Tuple[List[bytes], List[Expected]]:
    words = _Words(rng, p["vocab"], p["zipf_s"])
    blobs, exp = [], []
    for d in range(p["n_docs"]):
        text = words.line(_between(rng, p["words"]))
        if d % 2 == 0:
            blobs.append(doc_to_pdf(text, title=f"doc-{d}"))
            exp.append(Expected("ok", [("text", text + "\n", None),
                                       ("media_ref", None, "img00")], 1,
                                kind="pdf"))
        else:
            blobs.append(synthesize_interleaved_html(d, text).encode())
            exp.append(Expected("ok", [
                ("text", text + "\n", None),
                ("media_ref", None, f"img-{d}"),
                ("text", f"closing paragraph {d}\n", None)], 1, kind="html"))
    return blobs, exp


def _pii(rng, d: int) -> Tuple[str, str]:
    """A PII token and what pii_scrub turns it into."""
    k = int(rng.integers(0, 3))
    if k == 0:
        return f"user{d}@example.com", "<EMAIL>"
    if k == 1:
        return f"{100 + d % 900}-{10 + d % 90}-{1000 + d % 9000}", "<SSN>"
    return f"{1000000000 + d * 7919}", "<NUM>"


def _gen_curate(rng, p) -> Tuple[List[List[str]], List[Expected]]:
    """Span lists (one text span per line) rather than PDF bytes."""
    words = _Words(rng, p["vocab"], p["zipf_s"])
    n = p["n_docs"]
    raw: List[List[str]] = []  # lines before scrub
    clean: List[List[str]] = []  # lines after scrub
    exp: List[Expected] = []
    originals: List[int] = []
    for d in range(n):
        u = rng.random()
        if originals and u < p["dup_share"]:
            ref = originals[int(rng.integers(0, len(originals)))]
            toks = " ".join(clean[ref]).split(" ")
            n_edit = max(1, int(len(toks) * p["dup_edit_share"]))
            for pos in rng.integers(0, len(toks), n_edit):
                toks[pos] = words.sample(1)[0]
            lines = [" ".join(toks[i:i + 20]) for i in range(0, len(toks), 20)]
            raw.append(lines)
            clean.append(lines)
            exp.append(Expected("dup", ref=ref, kind="dup"))
            continue
        if u < p["dup_share"] + p["lowq_share"]:
            # one-letter tokens joined by full stops: mean word length
            # 2 and punctuation ratio 0.5 give quality_score
            # (60/500 + 0.5 + 0.5) / 3 < 0.5
            lines = ["".join(w[0] + "." for w in words.sample(30))]
            raw.append(lines)
            clean.append(lines)
            exp.append(Expected("lowq", kind="lowq"))
            continue
        toks = words.sample(_between(rng, p["words"]))
        lines = [" ".join(toks[i:i + 20]) for i in range(0, len(toks), 20)]
        clean_lines = list(lines)
        if rng.random() < p["pii_share"]:
            tok, repl = _pii(rng, d)
            lines[0] = lines[0] + " contact " + tok
            clean_lines[0] = clean_lines[0] + " contact " + repl
        raw.append(lines)
        clean.append(clean_lines)
        exp.append(Expected("ok", kind="text"))
        originals.append(d)
    for d, e in enumerate(exp):
        e.text = "".join(line + "\n" for line in clean[d])
        e.n_pages = 1
    return raw, exp


def _quantiles(values) -> dict:
    a = np.asarray(values, dtype=np.float64)
    return {f"p{q}": float(np.percentile(a, q)) for q in (50, 90, 99)} | {
        "max": float(a.max())}


# the input table lands in this many parquet files: written as one file,
# an input this small is scanned in fewer tasks than there are cores
N_FILES = 8


def _write_table(path: str, table: pa.Table) -> None:
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=512, compression="snappy")


def generate(workload: str, seed: int, params: Optional[dict] = None):
    """In-memory corpus: (arrow table, expected list, properties)."""
    p = dict(PARAMS[workload], **(params or {}))
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    if workload == "curate_dedup":
        raw, exp = _gen_curate(rng, p)
        ids = [str(d) for d in range(len(raw))]
        span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                            ("media_ref", pa.string()),
                            ("offset", pa.int32())])
        spans = [[{"kind": "text", "text": line + "\n", "media_ref": None,
                   "offset": i} for i, line in enumerate(lines)]
                 for lines in raw]
        nbytes = [sum(len(x) + 1 for x in lines) for lines in raw]
        table = pa.table({
            "doc_id": pa.array(ids, pa.string()),
            "spans": pa.array(spans, pa.list_(span_t)),
            "n_pages": pa.array([1] * len(raw), pa.int32()),
            "n_bytes": pa.array(nbytes, pa.int64()),
            "error": pa.array([None] * len(raw), pa.string()),
        })
    else:
        gen = {"pdf_small": _gen_pdf_small,
               "pdf_job_skewed": _gen_pdf_job_skewed,
               "interleaved_mixed": _gen_interleaved}[workload]
        blobs, exp = gen(rng, p)
        ids = [str(d) for d in range(len(blobs))]
        payload_col = "payload" if workload == "interleaved_mixed" else "pdf_bytes"
        nbytes = [len(b) for b in blobs]
        table = pa.table({
            "doc_id": pa.array(ids, pa.string()),
            payload_col: pa.array(blobs, pa.binary()),
            "n_bytes": pa.array(nbytes, pa.int64()),
        })
    classes: Dict[str, int] = {}
    for e in exp:
        classes[e.label] = classes.get(e.label, 0) + 1
    n = len(exp)
    props = {
        "workload": workload,
        "seed": seed,
        "params": p,
        "n_docs": n,
        "payload_mb": sum(nbytes) / 1e6,
        "doc_bytes": _quantiles(nbytes),
        "pages_total": int(sum(e.n_pages for e in exp)),
        "poison_share": sum(e.cls == "poison" for e in exp) / n,
        "near_dup_share": sum(e.cls == "dup" for e in exp) / n,
        "vocab_size": p["vocab"],
        "classes": classes,
    }
    return table, exp, props


def table_digest(table: pa.Table) -> str:
    """sha256 over the Arrow IPC stream of the input table."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _exp_to_json(e: Expected) -> list:
    return [e.cls, e.spans, e.n_pages, e.text, e.ref, e.kind]


def _exp_from_json(v: list) -> Expected:
    cls, spans, n_pages, text, ref, kind = v
    return Expected(cls, [tuple(s) for s in spans], n_pages, text, ref, kind)


def load_or_generate(workload: str, seed: int, cache_dir: str) -> Corpus:
    """Cached corpus for (workload, seed, params); generated on a miss."""
    key = hashlib.sha256(json.dumps(
        [workload, seed, PARAMS[workload], N_FILES, GENERATOR_VERSION],
        sort_keys=True).encode()
    ).hexdigest()[:16]
    d = os.path.join(cache_dir, f"{workload}-{seed}-{key}")
    meta_path = os.path.join(d, "corpus.json")
    if not os.path.exists(meta_path):
        table, exp, props = generate(workload, seed)
        digest = table_digest(table)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted run
        os.makedirs(tmp)
        _write_table(os.path.join(tmp, "input"), table)
        with open(os.path.join(tmp, "corpus.json"), "w") as f:
            json.dump({"props": props, "digest": digest,
                       "expected": [_exp_to_json(e) for e in exp]}, f)
        os.replace(tmp, d)
    with open(meta_path) as f:
        meta = json.load(f)
    expected = {str(i): _exp_from_json(v)
                for i, v in enumerate(meta["expected"])}
    return Corpus(workload, seed, os.path.join(d, "input"),
                  expected, meta["props"], meta["digest"])
