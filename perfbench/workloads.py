"""The workloads: each is a timed call chain through the engine's
public functions, an output check, and the traced-only jobs that
measure one layer at a time.

`run` is the timed chain. It takes a tracer; the untraced run passes a
`NullTracer`, so both runs execute the same calls. Layer spans wrap the
calls into each layer. Spark is lazy, so the span around the call that
triggers execution (a sink write, a count) holds the work of every
layer upstream of it; the traced-only jobs in `layer_metrics` isolate
single layers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from typing import Dict, List

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkpdf.operators.dedup import dup_clusters, minhash_lsh_pairs
from sparkpdf.operators.extract import extract_interleaved, extract_spans
from sparkpdf.operators.spans import doc_full_text
from sparkpdf.operators.text import chunk_documents, pii_scrub, quality_score
from sparkpdf.plans.checkpoint import CheckpointedExtraction
from sparkpdf.plans.salting import (
    WHALE_COST_FACTOR,
    plan_salted_partitions,
    skew_report,
)
from sparkpdf.sources.pdf_source import read_pdf_raw

from . import check
from .corpus import Corpus, load_or_generate
from .trace import NullTracer, duration

# every doc with doc_id % WARM_SLICE == 0 takes part in the warm pass
WARM_SLICE = 10
# docs profiled in-process per workload (every k-th ok doc of each kind)
KERNEL_SAMPLE = 200


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _slice(df: DataFrame, k: int) -> DataFrame:
    return df.filter(F.col("doc_id").cast("long") % k == 0) if k > 1 else df


def _passthrough(batches):
    yield from batches


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def kernel_profile(pdfs: List[bytes], htmls: List[str]) -> Dict[str, float]:
    """In-process, single-core kernel sub-stage costs per document."""
    from sparkpdf.kernels.content import tokenize
    from sparkpdf.kernels.document import PdfDocument
    from sparkpdf.kernels.extract import extract_doc
    from sparkpdf.kernels.html import html_to_spans
    from sparkpdf.kernels.xref import read_xref

    t = dict.fromkeys(("xref", "parse", "decode", "tokenize", "extract_doc",
                       "html"), 0.0)
    decoded = ops = 0
    clock = time.perf_counter
    for blob in pdfs:
        t0 = clock()
        read_xref(blob)
        t1 = clock()
        doc = PdfDocument(blob)
        pages = doc.pages()
        t2 = clock()
        datas = [doc.page_contents(p) for p in pages]
        t3 = clock()
        ops += sum(len(tokenize(d)) for d in datas)
        t4 = clock()
        extract_doc(blob)
        t5 = clock()
        decoded += sum(len(d) for d in datas)
        t["xref"] += t1 - t0
        t["parse"] += t2 - t1
        t["decode"] += t3 - t2
        t["tokenize"] += t4 - t3
        t["extract_doc"] += t5 - t4
    for html in htmls:
        t0 = clock()
        html_to_spans(html)
        t["html"] += clock() - t0
    out = {}
    n = len(pdfs)
    if n:
        ms = {k: v * 1e3 / n for k, v in t.items() if k != "html"}
        out = {
            "kernels.xref_ms_per_doc": ms["xref"],
            "kernels.parse_ms_per_doc": ms["parse"],
            "kernels.decode_ms_per_doc": ms["decode"],
            "kernels.decoded_mb_per_s": decoded / 1e6 / max(t["decode"], 1e-9),
            "kernels.tokenize_ms_per_doc": ms["tokenize"],
            "kernels.extract_doc_ms_per_doc": ms["extract_doc"],
            "kernels.assembly_ms_per_doc": ms["extract_doc"] - ms["parse"]
            - ms["decode"] - ms["tokenize"],
            "kernels.ops_per_doc": ops / n,
        }
    if htmls:
        out["kernels.html_ms_per_doc"] = t["html"] * 1e3 / len(htmls)
    return out


class Workload:
    name = ""
    payload_col = "pdf_bytes"
    # True: per-document work runs in PySpark Python workers;
    # False: in the executor JVM
    python_lane = True

    def __init__(self, corpus: Corpus, workdir: str):
        self.corpus = corpus
        self.workdir = workdir
        self.params = corpus.props["params"]
        self.n_docs = corpus.n_docs
        self.payload_mb = corpus.props["payload_mb"]
        self._iter = 0
        # output checks of probes run by the traced-only layer jobs
        self.extra_checks: Dict[str, check.Result] = {}

    # -- set-up ---------------------------------------------------------
    def scan(self, spark: SparkSession) -> None:
        """The input scan a user pays once: file listing and schema."""
        spark.read.parquet(self.corpus.path).schema

    def warm(self, spark: SparkSession) -> None:
        self.run(spark, NullTracer(), WARM_SLICE)
        self.cleanup()

    # -- timed chain ----------------------------------------------------
    def run(self, spark: SparkSession, tr, k: int = 1) -> None:
        raise NotImplementedError

    def cleanup(self) -> None:
        """Remove what `run` wrote, outside the timed region."""

    def derived_spans(self, tr) -> None:
        """Add spans measured by the engine itself after a traced run."""

    def _fresh_dir(self, tag: str) -> str:
        self._iter += 1
        return os.path.join(self.workdir, f"{tag}-{self._iter}")

    # -- correctness ----------------------------------------------------
    def check(self, spark: SparkSession) -> check.Result:
        raise NotImplementedError

    # -- traced-only layer measurements -----------------------------------
    def layer_metrics(self, spark: SparkSession, tr, spans: List[dict]) -> Dict[str, float]:
        with tr.span("measure.sources.scan") as s:
            noop(spark.read.parquet(self.corpus.path))
        return {"sources.scan_s": duration(s)}

    def _ipc_floor(self, spark: SparkSession, tr) -> float:
        cols = ["doc_id", self.payload_col]
        df = spark.read.parquet(self.corpus.path).select(*cols)
        with tr.span("measure.extract.ipc_floor") as s:
            noop(df.mapInArrow(_passthrough, schema=df.schema))
        return duration(s)

    def _kernel_sample(self, extra_ids=()) -> Dict[str, float]:
        by_kind: Dict[str, List[str]] = {}
        for d, e in self.corpus.expected.items():
            if e.cls == "ok" and not e.kind.startswith("whale"):
                by_kind.setdefault(e.kind, []).append(d)
        ids = set(extra_ids)
        n_ok = sum(len(docs) for docs in by_kind.values())
        for docs in by_kind.values():  # each kind in its corpus share
            quota = max(1, round(KERNEL_SAMPLE * len(docs) / n_ok))
            ids.update(docs[::max(1, len(docs) // quota)][:quota])
        table = pq.read_table(self.corpus.path,
                              columns=["doc_id", self.payload_col])
        pdfs, htmls = [], []
        for doc_id, blob in zip(table.column(0).to_pylist(),
                                table.column(1).to_pylist()):
            if doc_id not in ids:
                continue
            if self.corpus.expected[doc_id].kind == "html":
                htmls.append(blob.decode())
            else:
                pdfs.append(blob)
        return kernel_profile(pdfs, htmls)


class _SinkLane(Workload):
    """Input scan -> one extraction operator -> noop sink."""

    lane = ""  # span and metric prefix

    def read(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError

    def operator(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _chain(self, spark, tr, k):
        with tr.span("sources.read"):
            raw = _slice(self.read(spark), k)
        with tr.span(f"{self.lane}.plan"):
            return self.operator(raw)

    def run(self, spark, tr, k=1):
        out = self._chain(spark, tr, k)
        with tr.span(f"{self.lane}.lane"):
            noop(out)

    def check(self, spark):
        rows = self._chain(spark, NullTracer(), 1).toArrow().to_pylist()
        return check.check_spans(self.corpus.expected, rows)

    def layer_metrics(self, spark, tr, spans):
        m = super().layer_metrics(spark, tr, spans)
        lane_s = statistics.median(
            duration(s) for s in spans if s["name"] == f"{self.lane}.lane")
        m[f"{self.lane}.lane_s"] = lane_s
        m["extract.ipc_floor_s"] = self._ipc_floor(spark, tr)
        with tr.span("measure.kernels"):
            m.update(self._kernel_sample())
        n_html = sum(e.kind == "html" for e in self.corpus.expected.values())
        kernel_ms = (m["kernels.extract_doc_ms_per_doc"] * (self.n_docs - n_html)
                     + m.get("kernels.html_ms_per_doc", 0.0) * n_html)
        nproc = spark.sparkContext.defaultParallelism
        m["extract.overhead_core_ms_per_doc"] = (
            lane_s * nproc * 1e3 - kernel_ms) / self.n_docs
        return m


class PdfSmall(_SinkLane):
    name = "pdf_small"
    lane = "extract"

    def read(self, spark):
        return read_pdf_raw(spark, self.corpus.path)

    def operator(self, df):
        return extract_spans(df)


class Interleaved(_SinkLane):
    name = "interleaved_mixed"
    payload_col = "payload"
    lane = "interleaved"

    def read(self, spark):
        return spark.read.parquet(self.corpus.path)

    def operator(self, df):
        return extract_interleaved(df)

    def layer_metrics(self, spark, tr, spans):
        m = super().layer_metrics(spark, tr, spans)
        # extract_spans alone over the PDF half (even ids)
        pdfs = (spark.read.parquet(self.corpus.path)
                .filter(F.col("doc_id").cast("long") % 2 == 0)
                .withColumnRenamed("payload", "pdf_bytes"))
        with tr.span("measure.extract.lane") as s:
            noop(extract_spans(pdfs))
        m["extract.lane_s"] = duration(s)
        cache = os.path.dirname(os.path.dirname(self.corpus.path))
        curate = CurateDedup(
            load_or_generate("curate_dedup", self.corpus.seed, cache),
            self.workdir)
        m.update(curate.probe(spark, tr))
        self.extra_checks["curate_dedup"] = curate.result
        return m


class PdfJobSkewed(Workload):
    """The calls jobs/extract_job.py makes with --size-col n_bytes
    --auto-target: skew report, salting plan, checkpointed extraction
    and the summary counts over the written result."""

    name = "pdf_job_skewed"

    def run(self, spark, tr, k=1):
        p = self.params
        out_dir = self._fresh_dir("job")
        self.out_dir = out_dir
        with tr.span("sources.read"):
            raw = read_pdf_raw(spark, self.corpus.path)
            if k > 1:  # the warm slice keeps the whales: same plan shape
                raw = raw.filter((F.col("doc_id").cast("long") % k == 0)
                                 | (F.col("n_bytes") > p["big_doc_bytes"]))
        with tr.span("salting.skew_report"):
            skew_report(raw, p["batches"], size_col="n_bytes")
        with tr.span("salting.plan"):
            self.planned = plan_salted_partitions(
                raw, target_bytes=None, big_doc_bytes=p["big_doc_bytes"],
                size_col="n_bytes", workload=extract_spans,
                whale_cost_factor=WHALE_COST_FACTOR)
        with tr.span("checkpoint.run"):
            ck = CheckpointedExtraction(out_dir, n_batches=p["batches"])
            ck.run(self.planned, extract_spans)
        with tr.span("checkpoint.result"):
            result = ck.result(spark)
            result.count()
            result.filter("error IS NOT NULL").count()
        self.ck = ck

    def cleanup(self):
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def check(self, spark):
        rows = (self.ck.result(spark)
                .select("doc_id", "spans", "n_pages", "error")
                .toArrow().to_pylist())
        return check.check_spans(self.corpus.expected, rows)

    def layer_metrics(self, spark, tr, spans):
        m = super().layer_metrics(spark, tr, spans)
        for name in ("salting.skew_report", "salting.plan", "checkpoint.run",
                     "checkpoint.result"):
            m[name + "_s"] = statistics.median(
                duration(s) for s in spans if s["name"] == name)
        big = self.params["big_doc_bytes"]
        with tr.span("measure.salting"):
            part_bytes = [
                r[1] for r in self.planned.groupBy(F.spark_partition_id())
                .agg(F.sum("n_bytes")).collect()]
            m["salting.partitions"] = self.planned.rdd.getNumPartitions()
            m["salting.whales"] = self.planned.filter(
                F.col("n_bytes") > big).count()
        m["salting.part_bytes_p99_over_p50"] = float(
            np.percentile(part_bytes, 99) / np.percentile(part_bytes, 50))
        slices = [r["t_end"] - r["t_start"] for r in self._manifest()]
        m["checkpoint.slice_s_p50"] = statistics.median(slices)
        m["checkpoint.slice_s_max"] = max(slices)
        m["checkpoint.write_bytes_per_input_byte"] = (
            _dir_bytes(self.out_dir) / (self.payload_mb * 1e6))
        whales = [d for d, e in self.corpus.expected.items()
                  if e.kind.startswith("whale")]
        text_whale = next(d for d in whales
                          if self.corpus.expected[d].kind == "whale_text")
        image_whale = next(d for d in whales
                           if self.corpus.expected[d].kind == "whale_image")
        with tr.span("measure.kernels"):
            m.update(self._kernel_sample((text_whale, image_whale)))
        return m

    def _manifest(self) -> List[dict]:
        with open(self.ck.manifest_path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def derived_spans(self, tr):
        """Per-slice spans from the _progress manifest (t_start/t_end are
        wall-clock) as children of the last checkpoint.run span."""
        idx = max(i for i, s in enumerate(tr.spans)
                  if s["name"] == "checkpoint.run")
        offset = time.perf_counter() - time.time()
        for r in self._manifest():
            tr.add("checkpoint.slice", r["t_start"] + offset,
                   r["t_end"] + offset, idx, part=r["part_id"])


class CurateDedup(Workload):
    """curate_job stages 2-5 over a generated span table: full text,
    quality gate, PII scrub, near-duplicate clusters, chunk + parquet."""

    name = "curate_dedup"
    payload_col = "spans"
    python_lane = False

    def run(self, spark, tr, k=1):
        p = self.params
        out = self._fresh_dir("curate")
        self.out_dir = out
        with tr.span("sources.read"):
            spans = _slice(spark.read.parquet(self.corpus.path), k)
        with tr.span("spans.full_text"):
            docs = doc_full_text(spans.filter("error IS NULL")).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("full_text").alias("text"))
        with tr.span("text.quality"):
            q = quality_score(docs)
            kept = docs.join(
                q.filter(F.col("quality") >= p["min_quality"]), "doc_id"
            ).select("doc_id", "text", "quality")
            kept.count()
        with tr.span("text.pii"):
            scrubbed = pii_scrub(kept).withColumnRenamed("clean_text", "text")
            scrubbed.write.mode("overwrite").parquet(f"{out}/scrubbed")
            scrubbed = spark.read.parquet(f"{out}/scrubbed")
        with tr.span("dedup.clusters"):
            clusters = dup_clusters(scrubbed.select("doc_id", "text"),
                                    jaccard_threshold=p["jaccard"])
            keepers = clusters.filter(
                F.col("doc_id") == F.col("cluster_id")).select("doc_id")
            unique = scrubbed.join(keepers, "doc_id")
            unique.count()
        with tr.span("text.chunk_write"):
            chunk_documents(unique, chunk_chars=p["chunk_chars"],
                            overlap=p["overlap"]
                            ).write.mode("overwrite").parquet(f"{out}/chunks")
            spark.read.parquet(f"{out}/chunks").count()
        self.scrubbed = scrubbed
        self.clusters = clusters

    def cleanup(self):
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def check(self, spark):
        p = self.params
        chunks = spark.read.parquet(f"{self.out_dir}/chunks").toArrow().to_pylist()
        clusters = self.clusters.toArrow().to_pylist()
        self.result = check.check_curate(
            self.corpus.expected, chunks, clusters, p["jaccard"],
            p["chunk_chars"], p["overlap"])
        return self.result

    def layer_metrics(self, spark, tr, spans):
        m = super().layer_metrics(spark, tr, spans)
        m.update(self.curate_metrics(spark, tr, spans))
        return m

    def curate_metrics(self, spark, tr, spans):
        m = {}
        for name in ("text.quality", "text.pii", "dedup.clusters",
                     "text.chunk_write"):
            m[name + "_s"] = statistics.median(
                duration(s) for s in spans if s["name"] == name)
        raw = spark.read.parquet(self.corpus.path)
        with tr.span("measure.spans.full_text") as s:
            noop(doc_full_text(raw))
        m["spans.full_text_s"] = duration(s)
        docs = self.scrubbed.select("doc_id", "text")
        with tr.span("measure.dedup.pairs"):
            pairs = minhash_lsh_pairs(docs).toArrow().to_pylist()
        toks = {r["doc_id"]: check.tokens(r["text"])
                for r in docs.toArrow().to_pylist()}
        verified = sum(
            check.jaccard(toks[r["doc_a"]], toks[r["doc_b"]]) >= self.params["jaccard"]
            for r in pairs)
        m["dedup.candidate_pairs"] = len(pairs)
        m["dedup.verified_pairs"] = verified
        m["dedup.useful_ratio"] = verified / max(len(pairs), 1)
        m["dedup.planted_recall"] = self.result.extra["dedup.planted_recall"]
        return m

    def probe(self, spark, tr) -> Dict[str, float]:
        """The curation layers measured from another workload's traced
        run: one warm pass over a slice, one full traced pass, the
        output check and the curation layer metrics."""
        with tr.span("measure.curate"):
            self.warm(spark)
            first = len(tr.spans)
            self.run(spark, tr)
            self.check(spark)
            m = self.curate_metrics(spark, tr, tr.spans[first:])
            self.cleanup()
        return m


WORKLOADS = {w.name: w for w in (PdfSmall, PdfJobSkewed, Interleaved,
                                 CurateDedup)}
