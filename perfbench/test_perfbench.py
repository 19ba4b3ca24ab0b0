"""Tests for the benchmark itself (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import check, corpus
from perfbench.run import END_TO_END, PER_LAYER

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SMALL = {
    "pdf_small": {"n_docs": 40},
    "pdf_job_skewed": {"n_docs": 60, "text_whale_text_mb": [0.1, 0.2],
                       "image_whale_mb": [0.05, 0.05]},
    "interleaved_mixed": {"n_docs": 40},
    "curate_dedup": {"n_docs": 80},
}


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_same_corpus_digest(workload):
    a = corpus.table_digest(corpus.generate(workload, 7, SMALL[workload])[0])
    b = corpus.table_digest(corpus.generate(workload, 7, SMALL[workload])[0])
    c = corpus.table_digest(corpus.generate(workload, 8, SMALL[workload])[0])
    assert a == b
    assert a != c


def _span_rows(exp):
    return [{"doc_id": d, "n_pages": e.n_pages, "error": None,
             "spans": [{"kind": k, "text": t, "media_ref": m, "offset": i}
                       for i, (k, t, m) in enumerate(e.spans)]}
            for d, e in exp.items()]


def _expected(workload):
    _, exp, _ = corpus.generate(workload, 3, SMALL[workload])
    return {str(i): e for i, e in enumerate(exp)}


def test_check_passes_closed_form_output():
    exp = _expected("pdf_job_skewed")
    assert check.check_spans(exp, _span_rows(exp)).failed == 0


def test_check_flags_wrong_span_dropped_and_duplicated_rows():
    exp = _expected("pdf_small")
    rows = _span_rows(exp)
    rows[0]["spans"][0]["text"] = "planted wrong text\n"
    dropped = rows.pop(1)["doc_id"]
    rows.append(dict(rows[2]))
    res = check.check_spans(exp, rows)
    assert res.failed == 3
    assert res.failed_by_class == {"ok:text": 3}
    assert any(dropped in m and "0 rows" in m for m in res.examples)


def test_check_flags_error_on_ok_doc_but_not_on_poison():
    exp = _expected("pdf_job_skewed")
    rows = _span_rows(exp)
    poison = [r for r in rows if exp[r["doc_id"]].cls == "poison"]
    ok = next(r for r in rows if exp[r["doc_id"]].cls == "ok")
    for r in poison:
        r["error"], r["spans"] = "quarantined", []
    ok["error"] = "unexpected"
    res = check.check_spans(exp, rows)
    assert res.failed == 1
    assert poison


def _curate_output(exp, chunk_chars=500, overlap=100):
    """What a correct curation run emits when every planted duplicate
    merges into the doc it was planted from."""
    clusters, chunks = [], []
    for d, e in exp.items():
        if e.cls == "lowq":
            continue
        keeper = d
        while exp[keeper].cls == "dup":
            keeper = str(exp[keeper].ref)
        clusters.append({"doc_id": int(d), "cluster_id": int(keeper)})
        if keeper == d:
            want = check.expected_chunks(e.text, chunk_chars, overlap)
            chunks += [{"doc_id": int(d), "chunk_idx": i, "n_chunks": len(want),
                        "chunk_text": t} for i, t in enumerate(want)]
    return chunks, clusters


def test_check_curate_flags_false_dedup_merge():
    exp = _expected("curate_dedup")
    chunks, clusters = _curate_output(exp)
    res = check.check_curate(exp, chunks, clusters, 0.8, 500, 100)
    assert res.failed == 0
    assert res.extra["dedup.planted_recall"] == 1.0
    # merge two unrelated originals: the dropped one is a false merge
    a, b = [d for d, e in exp.items() if e.cls == "ok"][:2]
    for r in clusters:
        if str(r["doc_id"]) == b:
            r["cluster_id"] = int(a)
    chunks = [r for r in chunks if str(r["doc_id"]) != b]
    res = check.check_curate(exp, chunks, clusters, 0.8, 500, 100)
    assert res.failed == 1
    assert "false merge" in res.examples[0]


def test_check_curate_flags_dropped_row():
    exp = _expected("curate_dedup")
    chunks, clusters = _curate_output(exp)
    victim = next(d for d, e in exp.items() if e.cls == "ok")
    clusters = [r for r in clusters if str(r["doc_id"]) != victim]
    res = check.check_curate(exp, chunks, clusters, 0.8, 500, 100)
    assert res.failed == 1


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: m["unit"]
                for key in ("end_to_end", "per_layer") for m in bench[key]}
    names = list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    assert declared == {**END_TO_END, **PER_LAYER}
    from perfbench.workloads import WORKLOADS

    for w in bench["workloads"]:
        assert NAME.match(w["name"]), w["name"]
        assert w["name"] in WORKLOADS, w["name"]
