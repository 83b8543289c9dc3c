"""Layered benchmark of the deploy path, ``lineage.run_with_checkpoint``.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract-repeat --seed 1 --seconds 12 --trace 0

Workloads (both run the deploy path on ``local[<cores>]``, markdown on, at
its default 16 buckets in 4 waves per pass, over a transcripts table
generated from the seed):

- ``extract-repeat``: 6,000 turns drawn from the 35 pool documents, so
  nearly every turn is a hit in the kernel's result LRU.
- ``extract-distinct``: 4,000 turns, every payload byte-distinct (a
  seeded nonce comment after ``%%EOF``), with a fresh table for every pass,
  so the result LRU never hits.

``--trace 0`` measures the end-to-end metrics with tracing off. ``--trace 1``
sets up once and runs the first pass the same way, then runs the per-layer
probes (traced deploy passes, the nested scan / Arrow floor / pipeline /
sink passes, kernel stages, lineage counters and the analytics operators),
records a span around each call and writes the spans to
``.perfbench/trace-<workload>-<seed>.json``.

Human-readable lines go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. Outputs are checked
after each timed window; a run whose inputs cannot be built exits non-zero
without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 2          # session set-ups per run, each on a fresh JVM; setup_s is their median
MIN_PASSES = 2      # timed steady passes, even if the window is shorter
LAYER_REPEATS = 2   # untraced and traced deploy passes in the traced run; medians are kept
KERNEL_SAMPLES = 1050

# module -> the registered queries timed by the analytics probe
ANALYTICS = {
    "relational": ["rel_pricing_summary", "rel_broadcast_join_revenue",
                   "rel_sessionize_events"],
    "dedup": ["dedup_exact_groups", "dedup_minhash_lsh", "dedup_minhash_prod",
              "dedup_simhash", "dedup_verified_clusters"],
    "similarity": ["sim_cosine_topk", "sim_embedding_neardup"],
    "textstats": ["text_bpe_tokens", "text_quality_score"],
    "conversation": ["conv_assemble_docs"],
}


class ExtractRun:
    """One run of an extract workload in one process and one session."""

    def __init__(self, args, work: str):
        from perfbench.spans import Tracer
        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.distinct = args.workload == "extract-distinct"
        self.n_turns = 4000 if self.distinct else 6000
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{args.workload}-{args.seed}", enabled=False)
        self.tables: dict[int, str] = {}
        self.outputs: list[str] = []
        self.info: dict = {}
        self.m: dict[str, float] = {}
        self.spark = None

    # -- inputs ------------------------------------------------------------

    def table(self, k: int) -> str:
        """Input of pass ``k``: one shared table for extract-repeat, a
        freshly nonced one per pass for extract-distinct."""
        from perfbench import inputs
        key = k if self.distinct else 0
        if key not in self.tables:
            path = os.path.join(self.work, f"in{key}")
            nonce = f"{self.args.seed}-{key}" if self.distinct else None
            self.info = inputs.write_transcripts(path, self.n_turns, self.args.seed, nonce)
            self.tables[key] = path
        return os.path.join(self.tables[key], "input")

    # -- passes --------------------------------------------------------------

    def deploy(self, spark, k: int) -> tuple[float, int]:
        """Deploy pass ``k`` into its own output: (wall seconds, Spark jobs)."""
        from perfbench import layers
        src = self.table(k)
        out = os.path.join(self.work, f"out{k}")
        self.outputs.append(out)
        _r, wall, jobs = layers.traced_call(
            self.tracer, spark, "lineage.run_with_checkpoint",
            lambda: layers.deploy(spark, src, out))
        return wall, jobs

    def run(self) -> tuple[int, int]:
        from perfbench import checks, inputs, layers
        from pdf_inspector_spark.corpus import corpus_payloads

        args, m, tracer = self.args, self.m, self.tracer
        self.table(0)
        truth = inputs.read_truth(self.tables[0])
        checks.guard_nonce(args.seed)
        pool_docs = corpus_payloads()
        pool = [pool_docs[d] for d in inputs.pool_doc_ids()]
        m["kernels.control_docs_per_s"] = layers.kernel_control(pool)

        tracer.enabled = bool(args.trace)
        # Every set-up launches a JVM, as a spark-submit job does; the
        # session of the last one runs the passes. The traced run reports
        # no setup_s, so it sets up once.
        setups, launches = [], []
        for _ in range(1 if args.trace else SETUPS):
            self.close()
            with tracer.span("session.setup"):
                t0 = time.perf_counter()
                self.spark = spark = layers.get_session(self.cpus, self.tmp)
                launches.append(time.perf_counter() - t0)
                layers.ship(spark)
                setups.append(time.perf_counter() - t0)
        m["setup_s"] = median(setups)
        m["session.get_spark_s"] = median(launches)
        print(f"# session set-ups: {[round(s, 3) for s in setups]} s", flush=True)
        if args.trace:
            _r, m["session.first_job_s"], _j = layers.traced_call(
                tracer, spark, "session.first_job", lambda: layers.first_job(spark))

        m["first_pass_s"], _j = self.deploy(spark, 0)
        tracer.enabled = False
        if args.trace:
            self.trace_layers(spark)
        else:
            self.steady(spark)
        m["session.peak_rss_mb"] = layers.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        attempted = len(truth) * len(self.outputs)
        failed = checks.check_turns(spark, self.outputs, truth)
        if args.trace:
            a, f = self.trace_operators(spark)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def steady(self, spark) -> None:
        """Steady deploy passes for the measured window: turns_per_s."""
        from perfbench import layers
        walls, k = [], 1
        t_end = time.perf_counter() + self.args.seconds
        while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
            walls.append(self.deploy(spark, k)[0])
            k += 1
        turns = self.info["turns"]
        self.m["turns_per_s"] = turns / median(walls)
        _files, nbytes = layers.output_files(self.outputs[-1])
        self.m["output_bytes_per_turn"] = nbytes / turns
        print(f"# steady deploy passes: {len(walls)}, walls "
              f"{[round(w, 3) for w in walls]} s, {turns} turns", flush=True)

    def deploy_parts(self) -> tuple[float, float, float]:
        """Split of the last traced deploy pass: (seconds in jobs that run
        the pipeline's Python UDFs, seconds in its other jobs, seconds
        outside any job)."""
        spans = self.tracer.spans
        span = [s for s in spans if s["name"] == "lineage.run_with_checkpoint"][-1]
        jobs = [s for s in spans if s["parent"] == span["id"]]
        write = sum(s["end"] - s["start"] for s in jobs if s["python"])
        other = sum(s["end"] - s["start"] for s in jobs if not s["python"])
        return write, other, self.tracer.self_times()[span["id"]]

    def trace_layers(self, spark) -> None:
        """Per-layer numbers: traced deploy passes, the passes nested in
        them, the in-process kernel stages and the lineage counters."""
        from perfbench import layers
        m, tracer, k = self.m, self.tracer, 1
        untraced, deploys, parts, jobs = [], [], [], []
        # Untraced and traced passes alternate, and each pair runs in the
        # other order than the one before, so neither side gets more of
        # the warm-up still going on between passes.
        for i in range(LAYER_REPEATS):
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                tracer.enabled = traced
                wall, n_jobs = self.deploy(spark, k)
                k += 1
                if traced:
                    deploys.append(wall)
                    jobs.append(n_jobs)
                    parts.append(self.deploy_parts())
                else:
                    untraced.append(wall)
        tracer.enabled = True
        sink_out = os.path.join(self.work, "sink")
        nested = {"transcripts.scan_s": layers.scan_pass,
                  "pipeline.arrow_floor_s": layers.arrow_floor_pass,
                  "pipeline.run_s": layers.pipeline_pass,
                  "lineage.sink_s": lambda spark, src: layers.sink_pass(spark, src, sink_out),
                  "pipeline.dedup_run_s": layers.dedup_pass}
        for name, fn in nested.items():
            src = self.table(k)
            k += 1
            _r, m[name], _j = layers.traced_call(
                tracer, spark, name[:-2], lambda: fn(spark, src))
        m["transcripts.scan_splits"] = spark.read.parquet(self.table(0)).rdd.getNumPartitions()
        m["pipeline.distinct_ratio"] = self.info["distinct_payloads"] / self.info["turns"]

        out = self.outputs[-1]
        waves = layers.lineage_waves(spark, out)
        m["lineage.waves"] = waves
        m["lineage.jobs_per_wave"] = median(jobs) / waves
        m["lineage.files_written"], _b = layers.output_files(out)
        deploy = median(deploys)
        m["lineage.overhead_s"] = deploy - m["pipeline.run_s"]
        m["lineage.write_jobs_s"], m["lineage.bookkeeping_jobs_s"], \
            m["lineage.outside_jobs_s"] = (median(p[i] for p in parts) for i in range(3))
        m["trace.overhead_frac"] = deploy / median(untraced) - 1.0
        # The untraced deploy pass rebuilt from layers measured apart from
        # it: the sink pass stands in for its pipeline-running write jobs,
        # plus one more input scan per extra wave (each wave reads the
        # whole input to select its buckets); the bookkeeping jobs and the
        # time outside jobs come from the traced deploy passes.
        accounted = (m["lineage.sink_s"] + (waves - 1) * m["transcripts.scan_s"]
                     + m["lineage.bookkeeping_jobs_s"] + m["lineage.outside_jobs_s"])
        m["trace.accounted_frac"] = accounted / median(untraced) - 1.0
        _r, m["lineage.read_completed_s"], _j = layers.traced_call(
            tracer, spark, "lineage.read_completed_buckets",
            lambda: layers.read_completed(spark, out))

        self.trace_kernels()

    def trace_kernels(self) -> None:
        from perfbench import inputs, layers
        m = self.m
        payloads = inputs.sample_payloads(self.tables[max(self.tables)], KERNEL_SAMPLES)
        stages = layers.kernel_stages(self.tracer, payloads)
        for key, module in (("load", "pdfobj"), ("detect", "detector"),
                            ("cmaps", "tounicode"), ("interpret", "extractor"),
                            ("group_lines", "extractor"), ("markdown", "markdown")):
            m[f"kernels.{module}.{key}_us"] = stages[key]
        lat = sorted(layers.kernel_latencies(payloads, cached=False))
        m["kernels.pipeline.process_us_p50"] = lat[len(lat) // 2]
        m["kernels.pipeline.process_us_p99"] = lat[int(len(lat) * 0.99)]
        m["kernels.pipeline.process_samples"] = len(lat)
        layers.kernel_latencies(payloads, cached=True)
        m["kernels.pipeline.lru_hit_us"] = median(
            layers.kernel_latencies(payloads, cached=True))

    def trace_operators(self, spark) -> tuple[int, int]:
        """The analytics queries over seeded tables, each timed and its
        jobs counted in the session the deploy passes warmed; then the
        oracle check."""
        import __spark_entry__

        from perfbench import checks, inputs, layers
        from pdf_inspector_spark.operators import load_views
        from pdf_inspector_spark.operators.extraction import (
            ensure_fixture_tables, ensure_snapshot_table)
        m, tracer = self.m, self.tracer
        sf_dir = os.path.join(self.work, "sf")
        inputs.write_analytics_tables(sf_dir, self.args.seed)
        queries = __spark_entry__.queries()
        # Register the table views and build the fixture tables that
        # conv_assemble_docs reads first: the first query would otherwise
        # carry the jobs every query shares, and the first traced run in
        # a checkout the one-off fixture build.
        layers.traced_call(tracer, spark, "operators.load_views",
                           lambda: load_views(spark, sf_dir))
        layers.traced_call(tracer, spark, "operators.extraction.fixtures",
                           lambda: (ensure_fixture_tables(), ensure_snapshot_table(spark)))
        m["operators.suite_s"] = 0.0
        for module, names in ANALYTICS.items():
            for name in names:
                _r, wall, jobs = layers.traced_call(
                    tracer, spark, f"operators.{module}.{name}",
                    lambda: layers.noop_sink(queries[name](spark, sf_dir)))
                m[f"operators.{module}.{name}_s"] = wall
                m[f"operators.{module}.{name}_jobs"] = jobs
                m["operators.suite_s"] += wall
        results = {}
        for names in ANALYTICS.values():
            for name in names:
                df = queries[name](spark, sf_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
        failed = checks.check_queries(results, sf_dir)
        if failed:
            print(f"# queries differing from their oracle: {failed}", flush=True)
        return len(results), len(failed)

    def close(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit; the
        next session launches a new JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits at end of input
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract-repeat", "extract-distinct"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    all_units = {d["name"]: d["unit"]
                 for d in declared["end_to_end"] + declared["per_layer"]}
    section = "per_layer" if args.trace else "end_to_end"
    units = {d["name"]: all_units[d["name"]] for d in declared[section]}

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space, the JVM's and Python's temp files stay in
    # the work directory.
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    run = None
    try:
        run = ExtractRun(args, work)
        attempted, failed = run.run()
        if args.trace:
            run.tracer.dump(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)

    measured = run.m
    for name in sorted(measured):
        print(f"{name} = {measured[name]:.6g} {all_units[name]}", flush=True)
    print(f"failed_frac = {failed / attempted:.6g} ({failed}/{attempted})")
    missing = sorted(set(units) - set(measured))
    if missing:
        raise RuntimeError(f"metrics declared but not measured: {missing}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": float(measured[name]), "unit": unit}
                    for name, unit in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
