"""operators/adapter.map_docs is transparent: every per-document lane
run through Spark returns exactly the rows its row function returns when
called in-process over the same collected input (schema-conformed: a
missing key or a float NaN is null, keys outside the schema are dropped).
Also pins the lane plan shape and the single-adapter tooling guard."""

import ast
import math
import numbers
import pathlib
from functools import partial

import pytest
from pyspark.sql import Row
from pyspark.sql.types import ArrayType, StructType

from sparkpdf.kernels.document import PdfDocument
from sparkpdf.kernels.html import synthesize_html, synthesize_webpage
from sparkpdf.kernels.warc import build_warc
from sparkpdf.kernels.write import spans_to_pdf
from sparkpdf.operators import extract as ex
from sparkpdf.operators import multimodal as mm
from sparkpdf.operators import text as tx
from sparkpdf.operators.adapter import map_docs
from sparkpdf.sources import warc_source as ws
from sparkpdf.testing import fixtures
from sparkpdf.testing.pdfgen import doc_to_pdf

ROOT = pathlib.Path(__file__).resolve().parent.parent

_SPANS = [
    {"kind": "text", "text": "hello\n", "media_ref": None, "offset": 0},
    {"kind": "media_ref", "text": None, "media_ref": "img-1", "offset": 1},
]


def _rich_pdf() -> bytes:
    """Two pages with a form field, outlines, links, a named dest, JS
    and two attachments: every projection emits several rows."""
    page2 = [{"kind": "text", "text": "appendix\n", "media_ref": None}]
    return spans_to_pdf(
        [_SPANS, page2],
        title="rich",
        bookmarks=[("root", 0), ("child", 1, 0)],
        links=[(0, 1, (10, 10, 200, 30), "/Fit"), (1, "https://example.org/x")],
        named_dests=[("nd", 1)],
        javascript="app.alert('x');",
        attachments=[("a.wav", b"RIFF\x24\x00\x00\x00WAVEfmt "),
                     ("b.txt", b"payload")],
        form_fields=[("fld", "val")],
    )


def _inputs(spark):
    poison = fixtures.xref_broken_startxref()
    truncated = fixtures.filter_flate()[:180]
    pdfs = [
        ("1", doc_to_pdf("first doc", title="doc-1")),
        ("2", _rich_pdf()),
        ("3", fixtures.xmp_metadata()),
        ("4", fixtures.docinfo()),
        ("poison", poison),
        ("truncated", truncated),
        ("none", None),
        ("empty", b""),
    ]
    html_page = synthesize_webpage(7, "a web page").encode("utf-8")
    warc = build_warc([
        {"warc_type": "warcinfo", "record_id": "<urn:i>", "body": b"x"},
        {"warc_type": "response", "record_id": "<urn:a>",
         "target_uri": "https://e.org/a", "http_status": 200,
         "body": html_page},
        {"warc_type": "response", "record_id": "<urn:b>",
         "target_uri": "https://e.org/b", "http_status": 200,
         "http_content_type": "application/pdf", "body": pdfs[0][1]},
        {"warc_type": "response", "record_id": "<urn:c>",
         "target_uri": "https://e.org/c", "http_status": 404,
         "body": b"<p>gone</p>"},
    ])
    return {
        "pdf": spark.createDataFrame(pdfs, "doc_id string, pdf_bytes binary"),
        "payload": spark.createDataFrame(
            [("1", pdfs[0][1], None), ("2", html_page, "text/html"),
             ("3", pdfs[1][1], "application/pdf; x=y"),
             ("4", bytes(range(64)) * 8, None), ("poison", poison, None),
             ("none", None, None), ("empty", b"", None)],
            "doc_id string, payload binary, content_type string"),
        "spans": spark.createDataFrame(
            [("1", [tuple(s.values()) for s in _SPANS]), ("2", []),
             ("3", [("text", None, None, 0)])],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>"),
        "docs": spark.createDataFrame(
            [("1", "some text"), ("2", None), ("3", "")],
            "doc_id string, text string"),
        "html": spark.createDataFrame(
            [("1", synthesize_webpage(1, "rich page")),
             ("2", synthesize_html(2, "plain page")),
             ("3", "<table><tr><td>1</td></tr></table><h1>x</h1>"),
             ("none", None), ("empty", "")],
            "doc_id string, html string"),
        "ids": spark.createDataFrame([(0,), (1,), (2,), (9,)], "doc_id long"),
        "warc": spark.createDataFrame(
            [("a", warc), ("torn", b"WARC/1.0\r\nbroken"), ("none", None),
             ("empty", b"")], "doc_id string, warc_bytes binary"),
    }


@pytest.fixture(scope="module")
def inputs(spark):
    dfs = _inputs(spark)
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    media = (mm.synthesize_segmented_wav_media(docs)
             .unionByName(mm.synthesize_mjpeg_media(docs))
             .unionByName(mm.synthesize_av_media(docs))
             .unionByName(mm.synthesize_image_media(docs))
             .unionByName(spark.createDataFrame(
                 [("n", "r0", "image", None), ("m", "r1", None, b"abc"),
                  ("j", None, "audio", b"RIFF\x00\x00"),
                  ("e", "r3", "video", b"")],
                 "doc_id string, media_ref string, modality string, "
                 "payload binary")))
    dfs["media"] = media.cache()
    return dfs


_DECODERS = {**mm.DECODERS,
             "image": partial(mm._decode_image, pixel_formats=None)}
_PROJ = partial(partial, ex._projected_rows)

# lane id -> (input, lane, its row function, the row function's columns)
LANES = {
    "extract_spans": ("pdf", ex.extract_spans, ex._span_row, ex.PDF_COLS),
    "extract_page_spans": ("pdf", ex.extract_page_spans,
                           ex._page_span_rows, ex.PDF_COLS),
    "extract_interleaved": ("payload", ex.extract_interleaved,
                            ex._interleaved_row, ("doc_id", "payload")),
    "extract_interleaved_ctype": (
        "payload", lambda df: ex.extract_interleaved(df, "content_type"),
        ex._interleaved_row, ("doc_id", "payload", "content_type")),
    "extract_docinfo": ("pdf", ex.extract_docinfo, ex._docinfo_row,
                        ex.PDF_COLS),
    "extract_form_fields": ("pdf", ex.extract_form_fields,
                            _PROJ(PdfDocument.form_fields), ex.PDF_COLS),
    "extract_named_dests": ("pdf", ex.extract_named_dests,
                            _PROJ(PdfDocument.named_destinations),
                            ex.PDF_COLS),
    "extract_outlines": ("pdf", ex.extract_outlines,
                         _PROJ(PdfDocument.outlines), ex.PDF_COLS),
    "extract_links": ("pdf", ex.extract_links,
                      _PROJ(PdfDocument.link_annotations), ex.PDF_COLS),
    "extract_attachments": ("pdf", ex.extract_attachments,
                            _PROJ(ex._attachment_records), ex.PDF_COLS),
    "extract_javascript": ("pdf", ex.extract_javascript,
                           _PROJ(PdfDocument.javascript), ex.PDF_COLS),
    "extract_xmp": ("pdf", ex.extract_xmp, _PROJ(ex._xmp_records),
                    ex.PDF_COLS),
    "extract_viewer_prefs": ("pdf", ex.extract_viewer_prefs,
                             _PROJ(ex._viewer_prefs), ex.PDF_COLS),
    "extract_stats": ("pdf", ex.extract_stats, ex._stats_row, ex.PDF_COLS),
    "write_pdfs": ("spans", ex.write_pdfs, ex._write_row, ex.SPAN_COLS),
    "write_pdfs_enriched": (
        "spans", partial(ex.write_pdfs_enriched, password=b"pw"),
        partial(ex._enriched_row, password=b"pw", encryption="rc4-128",
                permissions=-3904), ex.SPAN_COLS),
    "write_pdfs_viewer_prefs": ("spans", ex.write_pdfs_viewer_prefs,
                                ex._viewer_prefs_row, ex.SPAN_COLS),
    "write_pdfs_navigation": ("spans", ex.write_pdfs_navigation,
                              ex._navigation_row, ex.SPAN_COLS),
    "synthesize_and_extract_spans": (
        "docs", ex.synthesize_and_extract_spans, ex._synth_span_row,
        ("doc_id", "text")),
    "synthesize_and_extract_stats": (
        "docs", ex.synthesize_and_extract_stats, ex._synth_stats_row,
        ("doc_id", "text")),
    "extract_html_main": ("html", tx.extract_html_main, tx._html_main_row,
                          tx.HTML_COLS),
    "extract_web_features": ("html", tx.extract_web_features,
                             tx._web_features_row, tx.HTML_COLS),
    "extract_web_docs": ("html", tx.extract_web_docs, tx._web_doc_row,
                         tx.HTML_COLS),
    "extract_robots_rules": (
        "ids", tx.extract_robots_rules,
        partial(tx._robots_row, agent="sparkbot",
                probe_paths=("/sec1/page", "/tmp/x")), ("doc_id",)),
    "extract_sitemap_entries": ("ids", tx.extract_sitemap_entries,
                                tx._sitemap_rows, ("doc_id",)),
    "warc_pages": ("warc", ws.warc_pages, ws._warc_page_rows, ws.WARC_COLS),
    "warc_documents": ("warc", ws.warc_documents, ws._warc_document_rows,
                       ws.WARC_COLS),
    "extract_media_payloads": ("pdf", mm.extract_media_payloads,
                               mm._media_payload_rows, mm.PDF_COLS),
    "extract_attachment_media": ("pdf", mm.extract_attachment_media,
                                 mm._attachment_media_rows, mm.PDF_COLS),
    "extract_media_features": (
        "media", mm.extract_media_features,
        partial(mm._feature_row, _DECODERS),
        ("doc_id", "media_ref", "modality", "payload")),
    "extract_audio_pcm_features": ("media", mm.extract_audio_pcm_features,
                                   mm._audio_pcm_row, mm.MEDIA_COLS),
    "extract_video_frame_features": (
        "media", mm.extract_video_frame_features, mm._video_frame_rows,
        mm.MEDIA_COLS),
    "extract_audio_segments": (
        "media", mm.extract_audio_segments,
        partial(mm._audio_segment_rows, segment_samples=64), mm.MEDIA_COLS),
}


def _py(v):
    """A collected Spark value as the adapter hands it to a row fn."""
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: _py(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_py(x) for x in v]
    return v


def _conform(v, dt):
    """A row-function value as Spark stores it under type `dt`."""
    if v is None:
        return None
    if isinstance(dt, StructType):
        return {f.name: _conform(v.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(dt, ArrayType):
        return [_conform(x, dt.elementType) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _key(v):
    """Order-free comparison key; ints and floats compare by value."""
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_key(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, list):
        return "[" + ",".join(_key(x) for x in v) + "]"
    if isinstance(v, numbers.Integral) and not isinstance(v, bool):
        return repr(int(v))
    if isinstance(v, numbers.Real):
        return repr(float(v))
    return repr(v)


@pytest.mark.parametrize("lane_id", sorted(LANES))
def test_lane_matches_row_function(inputs, lane_id):
    source, lane, row_fn, in_cols = LANES[lane_id]
    df = inputs[source]
    out = lane(df)
    got = [_py(r) for r in out.collect()]
    expected = [
        _conform(row, out.schema)
        for r in df.select(*in_cols).collect()
        for row in row_fn(*(_py(v) for v in r))
    ]
    assert len(got) == len(expected) > 0
    assert sorted(map(_key, got)) == sorted(map(_key, expected))


def test_adapter_nulls_nan_and_missing_keys(spark):
    """NaN -> null at top level and inside structs (the mapInPandas
    behaviour the lanes rely on), missing key -> null, extra keys
    ignored, zero or many rows per input row."""
    def fn(doc_id, x):
        for i in range(x):
            yield {"doc_id": doc_id, "v": float("nan") if i else 1.5,
                   "s": [{"a": float("nan"), "b": i, "junk": 0}],
                   "unknown": 1}

    df = spark.createDataFrame([("a", 0), ("b", 2), (None, 1)],
                               "doc_id string, x int")
    rows = map_docs(df, ["doc_id", "x"], fn,
                    "doc_id string, v double, s array<struct<a:double,b:int>>,"
                    " missing string").collect()
    assert sorted(map(str, rows)) == sorted(map(str, [
        Row(doc_id="b", v=1.5, s=[Row(a=None, b=0)], missing=None),
        Row(doc_id="b", v=None, s=[Row(a=None, b=1)], missing=None),
        Row(doc_id=None, v=1.5, s=[Row(a=None, b=0)], missing=None),
    ]))


@pytest.mark.parametrize("lane", ["extract_spans", "extract_interleaved"])
def test_lane_plan_one_arrow_map_no_exchange(spark, tmp_path, lane):
    col = "pdf_bytes" if lane == "extract_spans" else "payload"
    path = str(tmp_path / "raw")
    spark.createDataFrame([("1", doc_to_pdf("x"))],
                          f"doc_id string, {col} binary").write.parquet(path)
    plan = getattr(ex, lane)(spark.read.parquet(path)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan and "Exchange" not in plan


def _enclosing_functions(tree):
    """ast node -> names of the functions it sits in, outermost first."""
    chain = {}

    def walk(node, names):
        for child in ast.iter_child_nodes(node):
            here = names
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                here = names + [child.name]
            chain[child] = here
            walk(child, here)

    walk(tree, [])
    return chain


def test_python_maps_only_in_adapter_and_corpus_generators():
    """Every per-document lane goes through map_docs: `.mapInPandas(` and
    `.mapInArrow(` appear under sparkpdf/ only in operators/adapter.py
    and inside the synthesize_* / write_pdfs_with_* test-corpus
    generators (an allowlist that empties once those move out)."""
    offenders = []
    for py in sorted((ROOT / "sparkpdf").rglob("*.py")):
        rel = py.relative_to(ROOT / "sparkpdf").as_posix()
        tree = ast.parse(py.read_text())
        chain = _enclosing_functions(tree)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInPandas", "mapInArrow")):
                continue
            if rel == "operators/adapter.py":
                continue
            if any(n.startswith(("synthesize_", "write_pdfs_with_"))
                   for n in chain[node]):
                continue
            offenders.append(f"{rel}:{node.lineno} {node.func.attr}")
    assert offenders == []
