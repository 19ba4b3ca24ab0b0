"""Distributed span extraction — the engine's flagship operator.

pdf_raw(doc_id, pdf_bytes) -> documents_interleaved
    (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>, n_pages,
     n_bytes, error)

Every lane here is a per-document row function run by
operators/adapter.map_docs: ONE mapInArrow layer per lane, the
JVM<->Python Arrow IPC is the only process boundary, there is NO shuffle
in the extraction path, and no per-row Python UDFs exist anywhere
(input_hint mandate). Catalyst still prunes columns/partitions upstream
because the input is a plain DataFrame scan.
"""

from __future__ import annotations

import hashlib
import re
from functools import partial
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.document import PdfDocument
from ..kernels.extract import extract_doc, page_text
from ..kernels.html import html_to_spans
from ..kernels.write import _VALID_LAYOUTS, _VALID_MODES, spans_to_pdf
from ..kernels.xmp import doc_xmp
from ..testing.pdfgen import doc_to_pdf
from .adapter import map_docs

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INTERLEAVED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("n_pages", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)

# page-level view used by split/merge/page-range operators
PAGE_SPAN_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_no", IntegerType()),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("full_text", StringType()),
        StructField("rotate", IntegerType()),
        StructField("mediabox", ArrayType(DoubleType())),
        StructField("error", StringType()),
    ]
)

PDF_COLS = ("doc_id", "pdf_bytes")


def _span_row(doc_id, pdf_bytes, password: bytes = b""):
    """extract_spans' row: one documents_interleaved row per doc. The
    kernel's span dicts pass through as they are (their extra
    op_idx/page_no keys are not fields of SPAN_STRUCT)."""
    data = pdf_bytes if pdf_bytes is not None else b""
    res = extract_doc(data, password=password)
    yield {
        "doc_id": str(doc_id),
        "spans": res["spans"],
        "n_pages": res["n_pages"],
        "n_bytes": len(data),
        "error": res["error"],
    }


def _stats_row(doc_id, pdf_bytes):
    """extract_stats' row: five scalars per doc, no span text."""
    data = pdf_bytes if pdf_bytes is not None else b""
    res = extract_doc(data)
    texts = [s["text"] for s in res["spans"] if s["kind"] == "text"]
    yield {
        "doc_id": str(doc_id),
        "n_pages": res["n_pages"],
        "n_text": len(texts),
        "n_media": len(res["spans"]) - len(texts),
        "n_chars": sum(len(t or "") for t in texts),
        "n_bytes": len(data),
        "error": res["error"],
    }


def _corpus_pdf(doc_id, text) -> bytes:
    """The corpus document synthesize_pdf_corpus writes for a
    (doc_id, text) row (doc_id already cast to string)."""
    return doc_to_pdf(
        text if text is not None else "", n_media=1, title=f"doc-{doc_id}"
    )


def _synth_span_row(doc_id, text):
    return _span_row(doc_id, _corpus_pdf(doc_id, text))


def _synth_stats_row(doc_id, text):
    return _stats_row(doc_id, _corpus_pdf(doc_id, text))


def _fused_synth(documents: DataFrame, row_fn, schema,
                 n_partitions: int | None) -> DataFrame:
    """documents(doc_id, text) -> `row_fn` over each doc's corpus PDF,
    synthesized and consumed inside the same Python layer."""
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text")
    )
    if n_partitions is None:
        n_partitions = documents.sparkSession.sparkContext.defaultParallelism
    return map_docs(
        docs.repartition(n_partitions, "doc_id"),
        ["doc_id", "text"], row_fn, schema,
    )


def synthesize_and_extract_spans(
    documents: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """Fused synthesize_pdf_corpus + extract_spans in ONE mapInArrow
    layer (round 9): row-identical to
    extract_spans(synthesize_pdf_corpus(documents)) — pinned by
    tests/test_fused_extract.py and the extract_spans oracle — but the
    synthesized PDF bytes never cross the Arrow boundary and the
    pipeline pays ONE python-runner layer instead of two chained ones
    (each (task x runner) costs a measured ~6 ms serialized worker
    handshake; at 32 tasks that is ~0.2 s of wall per layer). The row
    function is extract_spans' own, fed by the corpus generator."""
    return _fused_synth(
        documents, _synth_span_row, INTERLEAVED_SCHEMA, n_partitions
    )


def synthesize_and_extract_stats(
    documents: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """Fused synthesize_pdf_corpus + extract_stats (round 9): one
    python-runner layer, and NEITHER the PDF bytes NOR the span text
    ever cross Arrow — the output is five scalars per doc. Row-identical
    to extract_stats(synthesize_pdf_corpus(documents))."""
    return _fused_synth(
        documents, _synth_stats_row, STATS_SCHEMA, n_partitions
    )


def extract_spans(pdf_raw: DataFrame, password: bytes = b"") -> DataFrame:
    """pdf_raw(doc_id, pdf_bytes, ...) -> documents_interleaved.
    `password` decrypts standard-security-handler docs (C3)."""
    return map_docs(
        pdf_raw, PDF_COLS, partial(_span_row, password=password),
        INTERLEAVED_SCHEMA,
    )


def _page_span_rows(doc_id, pdf_bytes):
    data = pdf_bytes if pdf_bytes is not None else b""
    # single parse: page metas come from extract_doc's own PdfDocument
    res = extract_doc(data, with_page_meta=True)
    metas: dict = res["page_meta"]
    by_page: dict = {p: [] for p in range(res["n_pages"])}
    for s in res["spans"]:
        by_page.setdefault(s["page_no"], []).append(s)
    for page_no in sorted(by_page):
        meta = metas.get(page_no, {})
        yield {
            "doc_id": str(doc_id),
            "page_no": page_no,
            "spans": by_page[page_no],
            "full_text": page_text(res["spans"], page_no),
            "rotate": meta.get("rotate", 0),
            "mediabox": meta.get("mediabox"),
            "error": res["error"],
        }


def extract_page_spans(pdf_raw: DataFrame) -> DataFrame:
    """Page-granular variant feeding split/merge/page-range operators."""
    return map_docs(pdf_raw, PDF_COLS, _page_span_rows, PAGE_SPAN_SCHEMA)


# --- corpus synthesis (documents table -> pdf_raw), also distributed --------

PDF_RAW_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("pdf_bytes", BinaryType()),
    ]
)


def _synth_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import pandas as pd

    for pdf in batches:
        out = {"doc_id": [], "pdf_bytes": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            out["doc_id"].append(str(doc_id))
            out["pdf_bytes"].append(_corpus_pdf(doc_id, text))
        yield pd.DataFrame(out)


# markup shapes that identify an HTML prefix ahead of a quoted
# %PDF- magic: every real page opens with one of these long before
# any quoted PDF header, while torn-PDF junk (dict '<<' tokens, hex
# strings '<A0B1>', random bytes) does not form them
_HTML_PREFIX = re.compile(
    rb"(?i)<(?:!doctype|!--|html|head|body|meta|title|script|style|"
    rb"div|span|article|section|nav|header|footer|table|ul|ol|li|"
    rb"img|br|p[\s>]|a\s)"
)


def _sniff_is_pdf(data: bytes) -> bool:
    """PDF iff the %PDF- magic appears in the first KB (the reference
    tolerates leading junk there) and the bytes BEFORE it are not
    markup-shaped: an HTML page QUOTING a PDF header has real tags
    ahead of the quoted magic, while torn-header PDF junk may contain
    stray '<' bytes (dict tokens, hex strings) but not tag forms —
    a bare any-'<' guard silently sent torn PDFs to the DOM lane
    (r8 review findings, both directions)."""
    idx = data[:1024].find(b"%PDF-")
    return idx >= 0 and not _HTML_PREFIX.search(data[:idx])


def _interleaved_row(doc_id, payload, content_type=None):
    data = payload if payload is not None else b""
    try:
        # inside the try: a non-string content_type must quarantine the
        # ROW, never kill the task (invariant 2)
        base = (str(content_type).split(";")[0].strip().lower()
                if isinstance(content_type, str) and content_type
                else "")
        # a declared upstream content type (e.g. the WARC HTTP
        # envelope) outranks the byte sniff
        if base == "application/pdf" or (
                base not in ("text/html",) and _sniff_is_pdf(data)):
            res = extract_doc(data)
            spans, n_pages, error = res["spans"], res["n_pages"], res["error"]
        else:
            # textual lane: a NUL/control-dense payload is not a
            # document of either kind -> quarantine (a torn-header PDF
            # still routes above via the magic-in-first-1KB scan)
            head = data[:4096]
            ctrl = sum(1 for b in head if b < 9 or 13 < b < 32)
            if data and ctrl * 10 > len(head):
                spans, n_pages = [], 0
                error = "unrecognized payload (binary, no PDF magic)"
            else:
                try:
                    textual = data.decode("utf-8")
                except UnicodeDecodeError:
                    textual = data.decode("latin-1")
                spans, n_pages, error = html_to_spans(textual)["spans"], 1, None
    except Exception as exc:  # quarantine, never dead task
        spans, n_pages = [], 0
        error = f"{type(exc).__name__}: {exc}"[:500]
    yield {
        "doc_id": str(doc_id),
        "spans": spans,
        "n_pages": n_pages,
        "n_bytes": len(data),
        "error": error,
    }


def extract_interleaved(
    raw: DataFrame, content_type_col: str | None = None
) -> DataFrame:
    """raw(doc_id, payload) -> documents_interleaved, where payload is
    a MIXED column: PDF bytes or HTML markup in the SAME table — the
    north rule's interleaved text+media corpus taken literally. One
    batch kernel sniffs per document (%PDF- magic in the first KB ->
    the full PDF span path; otherwise the DOM span walk, where each
    surviving main-content block is a text span and each main-content
    <img> a media_ref span) and emits ONE span contract regardless of
    source format: kinds/order/offsets identical in shape to
    extract_spans, so every downstream operator (dedup, quality,
    chunking, write-back) consumes both formats unchanged. Binary
    payloads with neither PDF magic nor textual structure quarantine
    via the error column; the kernel never raises.

    `content_type_col`: a declared upstream media type (the WARC HTTP
    envelope's Content-Type) that OUTRANKS the byte sniff —
    application/pdf forces the PDF lane, text/html the DOM lane; only
    unlabeled payloads fall back to the magic scan (which itself
    requires no '<' before the magic, see _sniff_is_pdf)."""
    cols = ["doc_id", "payload"]
    if content_type_col is not None:
        cols.append(F.col(content_type_col).alias("content_type"))
    return map_docs(raw, cols, _interleaved_row, INTERLEAVED_SCHEMA)


def synthesize_interleaved_corpus(
    documents: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """documents(doc_id, text) -> (doc_id, payload): even doc_ids
    become PDFs (doc_to_pdf — the extract_spans corpus, 1 text + 1
    media span), odd doc_ids become HTML pages with the doc text as
    the lead paragraph, one <img src="img-{d}"> and a formula closing
    paragraph (2 text spans + 1 media_ref span), with the usual
    nav/header/footer boilerplate the extractor must strip. Both
    lanes are closed-form so one DuckDB oracle covers the mixed
    output."""
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text")
    )
    if n_partitions is None:
        spark = documents.sparkSession
        n_partitions = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        from ..kernels.html import synthesize_interleaved_html

        for pdf in batches:
            out = {"doc_id": [], "payload": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                if d % 2 == 0:
                    payload = doc_to_pdf(text, title=f"doc-{d}")
                else:
                    payload = synthesize_interleaved_html(
                        d, text).encode("utf-8")
                out["doc_id"].append(str(d))
                out["payload"].append(payload)
            yield pd.DataFrame(out)

    return docs.repartition(n_partitions, "doc_id").mapInPandas(
        gen, schema="doc_id string, payload binary"
    )


def synthesize_pdf_corpus(
    documents: DataFrame, n_partitions: int | None = None
) -> DataFrame:
    """documents(doc_id, text, ...) -> pdf_raw(doc_id, pdf_bytes).

    Deterministic: doc_to_pdf is pure, so the corpus is reproducible on
    any cluster size; used by entry(), the oracle queries, and bench.

    Repartitions BEFORE the kernel: a small parquet scan arrives as 1-2
    tasks, which would serialize the per-doc Python work — the explicit
    shuffle buys full-cluster parallelism for the expensive stage.

    n_partitions defaults to 1x defaultParallelism (round 9): each
    (task x python-runner) pays a measured ~6 ms serialized worker
    handshake, so 2x parallelism doubled that convoy for zero balance
    gain on a uniform synthesized corpus (64 -> 32 tasks halved
    q_extract_spans wall). Skewed REAL corpora should size partitions
    with plans/salting.py, not this default.
    """
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text")
    )
    if n_partitions is None:
        spark = documents.sparkSession
        n_partitions = spark.sparkContext.defaultParallelism
    return docs.repartition(n_partitions, "doc_id").mapInPandas(
        _synth_batches, schema=PDF_RAW_SCHEMA
    )


def _synth_paged_batches(n_pages: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        from ..testing.pdfgen import doc_to_pdf_paged

        for pdf in batches:
            out = {"doc_id": [], "pdf_bytes": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                out["doc_id"].append(str(doc_id))
                out["pdf_bytes"].append(
                    doc_to_pdf_paged(text if text is not None else "", n_pages)
                )
            yield pd.DataFrame(out)

    return gen


def synthesize_paged_corpus(
    documents: DataFrame, n_pages: int = 3, n_partitions: int | None = None
) -> DataFrame:
    """Multi-page variant of synthesize_pdf_corpus (page ops at scale)."""
    docs = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.col("text")
    )
    if n_partitions is None:
        n_partitions = documents.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(n_partitions, "doc_id").mapInPandas(
        _synth_paged_batches(n_pages), schema=PDF_RAW_SCHEMA
    )


# --- metadata-only projection (P1: getDocumentInfo analog) -------------------

DOCINFO_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("title", StringType()),
        StructField("producer", StringType()),
        StructField("info_n_pages", IntegerType()),
    ]
)


def _pdf_str(v):
    if isinstance(v, bytes):
        return v.decode("latin-1", "replace")
    return str(v) if v is not None else None


def _docinfo_row(doc_id, pdf_bytes):
    title = producer = None
    n_pages = 0
    try:
        doc = PdfDocument(bytes(pdf_bytes))
        info = doc.doc_info() or {}
        title = _pdf_str(info.get("/Title"))
        producer = _pdf_str(info.get("/Producer"))
        n_pages = doc.num_pages()
    except Exception:
        pass
    yield {
        "doc_id": str(doc_id),
        "title": title,
        "producer": producer,
        "info_n_pages": n_pages,
    }


def extract_docinfo(pdf_raw: DataFrame) -> DataFrame:
    """Metadata-only projection (parity: getDocumentInfo,
    _reader.py:244-260): the kernel touches only the xref chain +
    /Info object — content streams are never decoded, which is what
    makes metadata queries cheap at 100 TB."""
    return map_docs(pdf_raw, PDF_COLS, _docinfo_row, DOCINFO_SCHEMA)


# --- interactive-document projections (P2/P4/P5) -----------------------------

FORM_FIELDS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("ft", StringType()),
        StructField("value", StringType()),
        StructField("flags", IntegerType()),
    ]
)

NAMED_DESTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("page_no", IntegerType()),
        StructField("fit", StringType()),
    ]
)

OUTLINES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("title", StringType()),
        StructField("level", IntegerType()),
        StructField("page_no", IntegerType()),
    ]
)


def _projected_rows(project, doc_id, pdf_bytes):
    rows = []
    try:
        doc = PdfDocument(bytes(pdf_bytes))
        for rec in project(doc):
            rows.append({"doc_id": str(doc_id), **rec})
    except Exception:
        pass  # quarantine: skip the unparseable (rest of the) doc
    return rows


def _project(pdf_raw: DataFrame, project, schema) -> DataFrame:
    """doc -> rows projection lane (fields/dests/outlines/...)."""
    return map_docs(pdf_raw, PDF_COLS, partial(_projected_rows, project),
                    schema)


def extract_form_fields(pdf_raw: DataFrame) -> DataFrame:
    """AcroForm projection (parity: getFields, _reader.py:355-450 —
    whose Field ctor is dead code in the reference; we implement the
    intended semantics, see kernels/document.form_fields)."""
    return _project(pdf_raw, PdfDocument.form_fields, FORM_FIELDS_SCHEMA)


def extract_named_dests(pdf_raw: DataFrame) -> DataFrame:
    """Name-tree destinations (parity: getNamedDestinations,
    _reader.py:464-503)."""
    return _project(pdf_raw, PdfDocument.named_destinations,
                    NAMED_DESTS_SCHEMA)


def extract_outlines(pdf_raw: DataFrame) -> DataFrame:
    """Bookmark tree flattened with level (parity: getOutlines,
    _reader.py:513-558)."""
    return _project(pdf_raw, PdfDocument.outlines, OUTLINES_SCHEMA)


LINKS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_no", IntegerType()),
        StructField("uri", StringType()),
        StructField("dest_page", IntegerType()),
    ]
)


def extract_links(pdf_raw: DataFrame) -> DataFrame:
    """Link-annotation projection (the read side of removeLinks,
    _writer.py:871-877)."""
    return _project(pdf_raw, PdfDocument.link_annotations, LINKS_SCHEMA)


ATTACHMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("filename", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("sha8", StringType()),
    ]
)


def extract_attachments(pdf_raw: DataFrame) -> DataFrame:
    """Embedded-file projection (read side of addAttachment,
    _writer.py:280-358): one row per attachment with size + digest —
    at corpus scale the attachment payloads feed the same media/dedup
    pipelines as XObject media."""
    return _project(pdf_raw, _attachment_records, ATTACHMENTS_SCHEMA)


def _attachment_records(doc):
    for a in doc.attachments():
        data = a["data"] or b""
        yield {
            "filename": a["filename"],
            "n_bytes": len(data),
            "sha8": hashlib.sha256(data).hexdigest()[:8],
        }


JAVASCRIPT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("name", StringType()),
        StructField("js", StringType()),
    ]
)


def extract_javascript(pdf_raw: DataFrame) -> DataFrame:
    """Document-open JavaScript projection (read side of addJS,
    _writer.py:237-279): /Names//JavaScript entries + /OpenAction."""
    return _project(pdf_raw, PdfDocument.javascript, JAVASCRIPT_SCHEMA)


XMP_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("xmp_title", StringType()),
        StructField("xmp_producer", StringType()),
        StructField("create_date", StringType()),
        StructField("modify_date", StringType()),
        StructField("creators", StringType()),
        StructField("subjects", StringType()),
        StructField("keywords", StringType()),
        StructField("pdfversion", StringType()),
        StructField("creator_tool", StringType()),
        StructField("metadata_date", StringType()),
        StructField("document_id", StringType()),
        StructField("custom_car", StringType()),
    ]
)


def extract_xmp(pdf_raw: DataFrame) -> DataFrame:
    """XMP metadata projection (parity: getXmpMetadata + the FULL
    XmpInformation getter surface, reference xmp.py:212-390): langalt
    title, seq creators / bag subjects (';'-joined — the driver
    canonicalizer hashes strings, not arrays), pdf:Keywords/PDFVersion/
    Producer, xmp dates + CreatorTool, xmpMM DocumentID, and the pdfx
    custom-property map ('my car' exercises the U+2182 key unescape)."""
    return _project(pdf_raw, _xmp_records, XMP_SCHEMA)


def _xmp_date(v):
    return v.strftime("%Y-%m-%dT%H:%M:%S") if v else None


def _xmp_records(doc):
    info = doc_xmp(doc)
    if info is None:
        return
    d = info.as_dict()
    yield {
        "xmp_title": d["title"],
        "xmp_producer": d["producer"],
        "create_date": _xmp_date(d["create_date"]),
        "modify_date": _xmp_date(d["modify_date"]),
        "creators": ";".join(d["creators"]) or None,
        "subjects": ";".join(d["subjects"]) or None,
        "keywords": d["keywords"],
        "pdfversion": d["pdfversion"],
        "creator_tool": d["creator_tool"],
        "metadata_date": _xmp_date(d["metadata_date"]),
        "document_id": d["document_id"],
        "custom_car": d["custom"].get("my car"),
    }


VIEWER_PREFS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("page_layout", StringType()),
        StructField("page_mode", StringType()),
    ]
)


def extract_viewer_prefs(pdf_raw: DataFrame) -> DataFrame:
    """Catalog /PageLayout + /PageMode projection (parity:
    getPageLayout/getPageMode, _reader.py:654-693)."""
    return _project(pdf_raw, _viewer_prefs, VIEWER_PREFS_SCHEMA)


def _viewer_prefs(doc):
    yield {"page_layout": doc.page_layout(), "page_mode": doc.page_mode()}


# --- write side: spans -> PDF bytes (SURVEY §2.2 K1 inverse) ------------------

SPAN_COLS = ("doc_id", "spans")


def _page(spans) -> list:
    """A span array as one page of spans_to_pdf input."""
    return [
        {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"]}
        for s in spans
    ]


def _write_row(doc_id, spans):
    page = _page(spans)
    # even docs get the classic xref table, odd docs the PDF 1.5
    # cross-reference STREAM — the round-trip query certifies both
    # serializations with the same oracle
    try:
        d = int(doc_id)
    except (TypeError, ValueError):
        d = 0
    yield {
        "doc_id": str(doc_id),
        "pdf_bytes": spans_to_pdf([page], xref_stream=bool(d % 2)),
    }


def write_pdfs(interleaved: DataFrame) -> DataFrame:
    """documents_interleaved -> pdf_raw (single-page docs). The inverse
    of extract_spans: extract(write(spans)) == spans, and the REFERENCE
    reads the written files (tests/test_write.py). Odd doc_ids are
    serialized with a PDF 1.5 xref STREAM, even ones with the classic
    table (both read back identically)."""
    return map_docs(interleaved, SPAN_COLS, _write_row, PDF_RAW_SCHEMA)


def _enriched_row(doc_id, spans, password, encryption, permissions):
    d = str(doc_id)
    yield {
        "doc_id": d,
        "pdf_bytes": spans_to_pdf(
            [_page(spans)],
            title=f"doc-{d}",
            bookmarks=[(f"bm-{d}", 0)],
            links=[(0, f"https://example.org/w/{d}")],
            attachments=[(f"att-{d}.txt", f"payload-{d}".encode())],
            form_fields=[(f"wfld-{d}", f"wval-{d}")],
            user_password=password,
            encryption=encryption,
            permissions=permissions,
        ),
    }


def write_pdfs_enriched(
    interleaved: DataFrame,
    password: bytes | None = None,
    encryption: str = "rc4-128",
    permissions: int = -3904,
) -> DataFrame:
    """Write side with the full enrichment surface (C6/D6): per doc a
    deterministic /Info title 'doc-{id}', one bookmark 'bm-{id}' and one
    URI link 'https://example.org/w/{id}', optionally encrypted with
    `password` (rc4-40 / rc4-128 / aes-128 / aes-256) and a /P
    permissions flag (parity: _writer.py encrypt(use_128bit=False,
    permissions_flag=...), :443-496). The REFERENCE decrypts and reads
    the RC4 output (tests/test_write.py interop); it rejects the AES
    modes, which our reader decrypts (tests/test_aes.py)."""
    row_fn = partial(_enriched_row, password=password,
                     encryption=encryption, permissions=permissions)
    return map_docs(interleaved, SPAN_COLS, row_fn, PDF_RAW_SCHEMA)


def _viewer_prefs_row(doc_id, spans):
    d = int(doc_id)
    page = _page(spans)
    yield {
        "doc_id": str(doc_id),
        "pdf_bytes": spans_to_pdf(
            [page],
            page_layout=_VALID_LAYOUTS[d % 7],
            page_mode=_VALID_MODES[d % 6],
        ),
    }


def write_pdfs_viewer_prefs(interleaved: DataFrame) -> DataFrame:
    """Write side of P6: per doc a single-page PDF whose catalog
    carries /PageLayout = layouts[doc_id % 7] and /PageMode =
    modes[doc_id % 6] (the reference's full accepted lists,
    setPageLayout/setPageMode _writer.py:1157-1258), doc_id-derived so
    the DuckDB oracle restates them by formula."""
    return map_docs(interleaved, SPAN_COLS, _viewer_prefs_row, PDF_RAW_SCHEMA)


def _navigation_row(doc_id, spans):
    d = str(doc_id)
    page1 = [{"kind": "text", "text": f"appendix {d}\n", "media_ref": None}]
    yield {
        "doc_id": d,
        "pdf_bytes": spans_to_pdf(
            [_page(spans), page1],
            bookmarks=[(f"root-{d}", 0), (f"child-{d}", 1, 0)],
            links=[
                (0, 1, (10, 10, 200, 30), "/Fit"),  # GoTo
                (1, f"https://example.org/n/{d}"),  # URI
            ],
            named_dests=[(f"nd-{d}", 1)],
            javascript=f"app.alert('{d}');",
        ),
    }


def write_pdfs_navigation(interleaved: DataFrame) -> DataFrame:
    """Write side of the NAVIGATION surface (VERDICT r2 items 3/4/8):
    per doc a two-page PDF carrying a nested 2-level outline
    (addBookmark parent=, _writer.py:768-842), an internal GoTo link
    page 0 -> page 1 with rect+fit (addLink, _writer.py:1061-1145), a
    URI link, a named destination (addNamedDestination,
    _writer.py:852-869), and document-open JavaScript (addJS,
    _writer.py:237-279). All values derive from doc_id so the DuckDB
    oracle can recompute them."""
    return map_docs(interleaved, SPAN_COLS, _navigation_row, PDF_RAW_SCHEMA)


def _write_paged_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
    import pandas as pd

    pdf = pdf.sort_values("page_no")
    pages = [_page(spans) for spans in pdf["spans"]]
    return pd.DataFrame({"doc_id": [key[0]], "pdf_bytes": [spans_to_pdf(pages)]})


def write_paged_pdfs(page_df: DataFrame) -> DataFrame:
    """Page-level span table -> multi-page PDFs (one per doc_id) via
    applyInPandas — the grouped write that makes merge/split physically
    round-trippable (full PdfFileMerger/Writer replacement)."""
    return page_df.select("doc_id", "page_no", "spans").groupBy("doc_id").applyInPandas(
        _write_paged_group, schema=PDF_RAW_SCHEMA
    )


# --- transfer-lean stats kernel (metadata-only pipelines at scale) -----------

STATS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("n_text", IntegerType()),
        StructField("n_media", IntegerType()),
        StructField("n_chars", LongType()),
        StructField("n_bytes", LongType()),
        StructField("error", StringType()),
    ]
)


def extract_stats(pdf_raw: DataFrame) -> DataFrame:
    """Corpus statistics WITHOUT shipping span text back over Arrow —
    Catalyst cannot prune columns inside a Python map's output, so
    stats-only pipelines at 100 TB use this kernel and move ~50x fewer
    bytes JVM<-python than extract_spans."""
    return map_docs(pdf_raw, PDF_COLS, _stats_row, STATS_SCHEMA)
