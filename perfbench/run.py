"""Benchmark entry point.

    python3 perfbench/run.py --workload interleaved_mixed --seed 1 --seconds 16 --trace 0

Run from the repository root. One run: build or load the seeded corpus,
set up (session + input scan + warm pass) three times, warm up, run the
workload's timed chain repeatedly for --seconds with the host's speed
measured around every pass, check every output
document, and print one JSON object as the last stdout line. With
--trace 1 the run also records layer spans and the traced-only layer
jobs, and prints the per-layer metrics instead of the end-to-end ones.
`--workload all` runs every workload in turn, each in its own process,
and prints a table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
SETUPS = 3
# untimed warm-up before the timed window: at least WARM_ITERS passes
# and WARM_SHARE of --seconds
WARM_ITERS = 2
WARM_SHARE = 0.5
MIN_ITERS = 3

# docs_per_s and mb_per_s are wall-clock rates scaled to a reference
# host speed: the median rate over the timed passes divided by the
# host's speed, measured by HostSpeed just before and after each pass.
# The speed of a shared host drifts by tens of percent within minutes;
# the unscaled rates and the speed are in the detail line.
END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "mb_per_s": "MB/s",
    "worker_rss_peak_mb": "MB",
}

# per-layer metric -> unit; a metric whose layer is not on a
# workload's path reads 0 there
PER_LAYER = {
    "session.start_s": "s",
    "session.cold_start_s": "s",
    "sources.scan_s": "s",
    "salting.skew_report_s": "s",
    "salting.plan_s": "s",
    "salting.partitions": "count",
    "salting.whales": "count",
    "salting.part_bytes_p99_over_p50": "ratio",
    "checkpoint.run_s": "s",
    "checkpoint.slice_s_p50": "s",
    "checkpoint.slice_s_max": "s",
    "checkpoint.write_bytes_per_input_byte": "ratio",
    "checkpoint.result_s": "s",
    "extract.lane_s": "s",
    "extract.ipc_floor_s": "s",
    "extract.overhead_core_ms_per_doc": "ms",
    "interleaved.lane_s": "s",
    "kernels.xref_ms_per_doc": "ms",
    "kernels.parse_ms_per_doc": "ms",
    "kernels.decode_ms_per_doc": "ms",
    "kernels.decoded_mb_per_s": "MB/s",
    "kernels.tokenize_ms_per_doc": "ms",
    "kernels.extract_doc_ms_per_doc": "ms",
    "kernels.assembly_ms_per_doc": "ms",
    "kernels.ops_per_doc": "count",
    "kernels.html_ms_per_doc": "ms",
    "spans.full_text_s": "s",
    "text.quality_s": "s",
    "text.pii_s": "s",
    "dedup.clusters_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.useful_ratio": "ratio",
    "dedup.planted_recall": "ratio",
    "text.chunk_write_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def _env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["SPARKPDF_WAREHOUSE"] = os.path.join(STATE, "warehouse")
    os.environ["SPARKPDF_DRIVER_MEM"] = "2g"  # the host's memory is shared
    # every JVM, the spark-submit launcher's too: no hsperfdata file,
    # temp files under the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    # no console progress bars on stderr
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


class Session:
    """A SparkSession plus the JVM it runs in; stop() ends both and
    waits for the JVM and its Python workers to exit."""

    def __init__(self, nproc: int):
        self.nproc = nproc
        self.spark = None

    def start(self):
        from sparkpdf.session import get_spark

        self.spark = get_spark(app_name="perfbench", cpus=self.nproc)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        from pyspark import SparkContext

        from perfbench.probes import descendants

        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = gw.proc
        children = descendants(proc.pid)
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.time() + 10
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
        self.spark = None


def run_one(args) -> int:
    from perfbench import corpus as corpus_mod
    from perfbench.probes import (
        HostSpeed,
        JobCounter,
        RssProbe,
        cpu_steal_ticks,
        host_record,
        tree_cpu_s,
    )
    from perfbench.trace import NullTracer
    from perfbench.workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    workdir = os.path.join(STATE, "runs", run_id)
    os.makedirs(workdir, exist_ok=True)
    t_gen = time.perf_counter()
    corpus = corpus_mod.load_or_generate(
        args.workload, args.seed, os.path.join(STATE, "cache"))
    t_gen = time.perf_counter() - t_gen
    wl = WORKLOADS[args.workload](corpus, workdir)
    speed = HostSpeed(nproc)
    sess = Session(nproc)
    spans: list = []
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "corpus_s": t_gen,
                    "digest": corpus.digest, "props": corpus.props}
    try:
        # -- set-up, several times: session + input scan + warm pass ----
        setup, starts, scans = [], [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = sess.start() if i == 0 else sess.restart()
            t1 = time.perf_counter()
            wl.scan(spark)
            t2 = time.perf_counter()
            wl.warm(spark)
            setup.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            scans.append(t2 - t1)
        detail["setup_s_all"] = setup
        detail["session_start_s_all"] = starts
        detail["scan_s_all"] = scans
        detail["host"] = host_record(spark)
        rss = RssProbe(sess.jvm_pid, python_workers=wl.python_lane)
        jobs = JobCounter(spark.sparkContext)

        # -- timed chain, tracing off ---------------------------------
        roots = (os.getpid(), sess.jvm_pid)
        spin_ms = []

        def iterate():
            """One untraced pass of the chain between two host-speed
            samples: (wall s, CPU s of the driver, the JVM and its Python
            workers, peak worker RSS MB)."""
            wl.cleanup()
            spin_ms.append(speed.sample_ms())
            rss.start()
            c0 = tree_cpu_s(roots)
            t0 = time.perf_counter()
            try:
                wl.run(spark, NullTracer())
            finally:
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s(roots) - c0
                peak = rss.stop()
            spin_ms.append(speed.sample_ms())
            return wall, cpu, peak

        samples = []
        failed_run = None
        steal0 = cpu_steal_ticks()
        try:
            # warm-up, untimed: the JVM keeps compiling hot paths for
            # several passes after set-up
            t_end = time.perf_counter() + args.seconds * WARM_SHARE
            n = 0
            while n < WARM_ITERS or time.perf_counter() < t_end:
                iterate()
                n += 1
            spin_ms.clear()
            t_end = time.perf_counter() + args.seconds
            while len(samples) < MIN_ITERS or time.perf_counter() < t_end:
                samples.append(iterate())
        except Exception as exc:  # counted: every doc of the run fails
            traceback.print_exc()
            failed_run = f"{type(exc).__name__}: {exc}"[:500]
        walls = [w for w, _, _ in samples]
        detail["warm_iters"] = n
        detail["walls_s"] = walls
        detail["cpu_s"] = [c for _, c, _ in samples]
        detail["spin_ms"] = spin_ms
        if walls:
            # host speed over the timed window: 1.0 on the reference host
            detail["host"]["speed"] = HostSpeed.REF_MS / statistics.median(spin_ms)
            detail["docs_per_s_raw"] = statistics.median(
                corpus.n_docs / w for w in walls)
            detail["mb_per_s_raw"] = statistics.median(
                corpus.props["payload_mb"] / w for w in walls)
        steal1 = cpu_steal_ticks()
        detail["host"]["cpu_steal_share"] = (
            (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1))

        # -- output check ---------------------------------------------
        checks = {}
        metrics = {}
        units = PER_LAYER if args.trace else END_TO_END
        if failed_run is not None:
            detail["failed_run"] = failed_run
        else:
            checks[args.workload] = wl.check(spark)
            if args.trace:
                metrics, spans = traced(args, run_id, wl, spark, jobs, detail)
                metrics["session.start_s"] = statistics.median(starts)
                metrics["session.cold_start_s"] = starts[0]
                checks.update(wl.extra_checks)
            else:
                speed_now = detail["host"]["speed"]
                metrics = {
                    "setup_s": statistics.median(setup),
                    "docs_per_s": detail["docs_per_s_raw"] / speed_now,
                    "mb_per_s": detail["mb_per_s_raw"] / speed_now,
                    "worker_rss_peak_mb": statistics.median(
                        p for _, _, p in samples),
                }
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
    finally:
        try:
            sess.stop()
        finally:
            speed.close()
        shutil.rmtree(workdir, ignore_errors=True)
    # a run that raises counts every one of its documents as failed
    attempted = sum(r.attempted for r in checks.values()) or corpus.n_docs
    failed = (corpus.n_docs if failed_run else 0) + sum(
        r.failed for r in checks.values())
    detail["checks"] = {name: {"attempted": r.attempted, "failed": r.failed,
                               "failed_by_class": r.failed_by_class,
                               "examples": r.examples}
                        for name, r in checks.items()}
    detail["failed_share"] = failed / attempted
    detail["metrics"] = {k: v["value"] for k, v in out.items()}
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, run_id + ".json"), "w") as f:
        json.dump({"detail": detail, "spans": spans},
                  f, indent=1, default=str)
    print(json.dumps({"perfbench_detail": detail}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 1 if failed_run else 0


def traced(args, run_id, wl, spark, jobs, detail):
    """Traced iterations (spans on, a job group per layer span), then
    the traced-only layer jobs. Returns (metrics, spans)."""
    from perfbench.trace import NullTracer, Tracer, coverage, duration, layer_self_times

    groups = []

    def on_top(name):
        if name is not None:
            groups.append(f"{run_id}/{len(groups)}/{name}")
        jobs.set_group(groups[-1] if name is not None else None)

    tracer = Tracer(run_id, on_top_level=on_top)
    # traced and untraced iterations alternate, so the overhead compares
    # the same stretch of the run
    roots, untraced = [], []
    t_end = time.perf_counter() + args.seconds / 2
    while len(roots) < 2 or time.perf_counter() < t_end:
        wl.cleanup()
        t0 = time.perf_counter()
        wl.run(spark, NullTracer())
        untraced.append(time.perf_counter() - t0)
        wl.cleanup()
        roots.append(len(tracer.spans))
        with tracer.root(f"workload.{wl.name}"):
            wl.run(spark, tracer)
    wl.derived_spans(tracer)
    counts = {"jobs": 0, "tasks": 0, "failed_tasks": 0}
    per_layer_jobs = {}
    n_roots = len(roots)
    for g in groups:
        c = jobs.counts(g)
        layer = g.rsplit("/", 1)[1]
        agg = per_layer_jobs.setdefault(layer, dict.fromkeys(c, 0))
        for k, v in c.items():
            agg[k] += v
            counts[k] += v
    spans = list(tracer.spans)
    m = wl.layer_metrics(spark, tracer, spans)
    traced_wall = statistics.median(duration(spans[r]) for r in roots)
    m["trace.wall_s"] = traced_wall
    m["trace.untraced_wall_s"] = statistics.median(untraced)
    m["trace.overhead_s"] = traced_wall - m["trace.untraced_wall_s"]
    m["trace.coverage"] = min(coverage(spans, r) for r in roots)
    for k in ("jobs", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = counts[k] / n_roots
    detail["layer_self_s"] = {
        k: v / n_roots for k, v in layer_self_times(spans, roots).items()}
    detail["measure_s"] = {s["name"]: duration(s) for s in tracer.spans
                           if s["parent"] is None
                           and s["name"].startswith("measure.")}
    detail["spark_by_layer"] = {k: {kk: vv / n_roots for kk, vv in v.items()}
                                for k, v in per_layer_jobs.items()}
    return m, tracer.spans


def run_all(args) -> int:
    """Every workload, each in its own process; one summary table."""
    from perfbench.workloads import WORKLOADS

    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.join("perfbench", "run.py"),
               "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2])["perfbench_detail"]
        rows.append((name, result, detail))
    for name, result, detail in rows:
        print(f"== {name}  correct={result['correct']}  "
              f"attempted={result['attempted']}  failed={result['failed']}  "
              f"failed_share={detail['failed_share']:.4f}")
        for k, v in result["metrics"].items():
            print(f"   {k:40s} {v['value']:14.4f} {v['unit']}")
        for k, unit in (("docs_per_s_raw", "1/s"), ("mb_per_s_raw", "MB/s")):
            if k in detail:  # unscaled wall-clock rates
                print(f"   {k:40s} {detail[k]:14.4f} {unit}")
        if "speed" in detail["host"]:
            print(f"   {'host.speed':40s} {detail['host']['speed']:14.4f} ratio")
        for check_name, c in detail["checks"].items():
            if c["failed"]:
                print(f"   {check_name} failed by class: {c['failed_by_class']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sparkpdf", "session.py")):
        print(f"perfbench: no sparkpdf package under {ROOT}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    _env()
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
