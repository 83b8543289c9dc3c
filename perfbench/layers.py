"""Calls into each layer of the program, timed from the outside.

Every function here calls one public entry point of a layer (session,
transcripts scan, pipeline, kernels, lineage, operators) and returns what
it measured. Spans are recorded around those calls only; nothing inside
the program is instrumented.
"""

from __future__ import annotations

import inspect
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

import pyspark.sql.functions as F

from pdf_inspector_spark.lineage import read_completed_buckets, run_with_checkpoint
from pdf_inspector_spark.pipeline import run_pipeline, run_pipeline_dedup, salt_column
from pdf_inspector_spark.session import get_spark

from .spans import Tracer

# Bucket count of the deploy path's default setting, which the sink pass
# partitions its output by as a wave does.
DEPLOY_BUCKETS = inspect.signature(run_with_checkpoint).parameters["num_buckets"].default
# Physical plan operators that run Python UDFs in the executors.
_PYTHON_PLAN = re.compile(r"EvalPython|InPandas|InArrow")


# -- session ----------------------------------------------------------------

def get_session(cpus: int, tmp_dir: str):
    """``session.get_spark`` with the console quiet and every scratch file
    under ``tmp_dir``."""
    spark = get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp_dir,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ship(spark) -> None:
    """Ship the package to the Python workers, as ``__spark_entry__``
    does before a session's first job."""
    import __spark_entry__
    __spark_entry__._ensure_shipped(spark)


def first_job(spark) -> None:
    """A trivial Arrow UDF job: spawns the Python workers."""
    @F.pandas_udf("long")
    def one(s):
        return s * 0 + 1
    spark.range(0, 64, numPartitions=spark.sparkContext.defaultParallelism) \
        .select(one("id")).write.format("noop").mode("overwrite").save()


# -- Spark job accounting ---------------------------------------------------

class JobGroup:
    """Tags every Spark job started in the body with one job group, so the
    jobs a call ran can be counted exactly and timed afterwards."""

    def __init__(self, spark, label: str):
        self.sc = spark.sparkContext
        self.jsession = spark._jsparkSession
        self.id = f"{label}-{uuid.uuid4().hex}"

    def __enter__(self):
        self.sc.setJobGroup(self.id, self.id)
        self.first_execution = self._sql_store().executionsCount()
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _sql_store(self):
        return self.jsession.sharedState().statusStore()

    def job_ids(self) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(self.id))

    def job_spans(self) -> list[tuple[str, int, bool, float, float]]:
        """(call site, tasks, runs Python UDFs, start, end) per job, epoch
        seconds, from the scheduler's and the SQL status stores."""
        ids = set(self.job_ids())
        python: set[int] = set()
        jvm = self.sc._jvm
        as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        # Only the SQL executions started in the body, which the store
        # lists after those it held on entry.
        for ex in as_java(self._sql_store().executionsList(
                self.first_execution, 1 << 20)):
            jobs = {int(j) for j in as_java(ex.jobs()).keySet()}
            if jobs & ids and _PYTHON_PLAN.search(ex.physicalPlanDescription()):
                python |= jobs
        store = self.sc._jsc.sc().statusStore()
        out = []
        for j in sorted(ids):
            d = store.job(j)
            if d.submissionTime().isDefined() and d.completionTime().isDefined():
                out.append((d.name(), d.numTasks(), j in python,
                            d.submissionTime().get().getTime() / 1000.0,
                            d.completionTime().get().getTime() / 1000.0))
        return out


def traced_call(tracer: Tracer, spark, name: str, fn: Callable[[], object]):
    """Run ``fn`` under a span and a job group; the Spark jobs it ran
    become child spans. Returns (result, wall seconds, job count)."""
    with tracer.span(name) as sp, JobGroup(spark, name) as group:
        t0 = time.perf_counter()
        result = fn()
        wall = time.perf_counter() - t0
    if tracer.enabled:
        for site, tasks, python, start, end in group.job_spans():
            tracer.add("spark.job", start, end, sp, call_site=site, tasks=tasks,
                       python=python)
    return result, wall, len(group.job_ids())


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- deploy path and the passes nested inside it ----------------------------

def deploy(spark, input_dir: str, out_dir: str) -> dict:
    shutil.rmtree(out_dir, ignore_errors=True)
    return run_with_checkpoint(spark, input_dir, out_dir, "perfbench",
                               with_markdown=True)


def scan_pass(spark, input_dir: str) -> None:
    noop_sink(spark.read.parquet(input_dir))


def arrow_floor_pass(spark, input_dir: str) -> None:
    """The binary payload column through a pandas UDF that only takes
    lengths: the JVM→Python Arrow boundary with no kernel work."""
    @F.pandas_udf("long")
    def payload_len(s):
        return s.str.len()
    df = spark.read.parquet(input_dir)
    noop_sink(df.select("conv_id", "turn_idx",
                        payload_len(F.encode("text", "ISO-8859-1")).alias("n")))


def pipeline_pass(spark, input_dir: str) -> None:
    noop_sink(run_pipeline(spark.read.parquet(input_dir), with_markdown=True))


def sink_pass(spark, input_dir: str, out_dir: str) -> None:
    """``run_pipeline`` over the whole input, written the way a deploy
    wave writes its buckets: one partitioned parquet write."""
    shutil.rmtree(out_dir, ignore_errors=True)
    df = spark.read.parquet(input_dir) \
        .withColumn("bucket", salt_column(DEPLOY_BUCKETS).cast("int"))
    (run_pipeline(df, with_markdown=True)
     .withColumn("quarantined", F.col("error_kind").isNotNull())
     .write.mode("overwrite").partitionBy("quarantined", "bucket")
     .parquet(out_dir))


def dedup_pass(spark, input_dir: str) -> None:
    noop_sink(run_pipeline_dedup(spark.read.parquet(input_dir), with_markdown=True))


def read_completed(spark, out_dir: str) -> set[int]:
    return read_completed_buckets(spark, out_dir, "perfbench")


def lineage_waves(spark, out_dir: str) -> int:
    from pdf_inspector_spark.lineage import lineage_path
    return spark.read.parquet(lineage_path(out_dir)) \
        .select("completed_at").distinct().count()


def output_files(out_dir: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under a finished output."""
    files = nbytes = 0
    for root, _dirs, names in os.walk(out_dir):
        for n in names:
            nbytes += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, nbytes


# -- kernels, in process on one core ----------------------------------------

def kernel_stages(tracer: Tracer, payloads: list[bytes]) -> dict[str, float]:
    """Mean µs per document of each stage, called in the order
    ``_process_pdf_mem_uncached`` calls them, one span per stage."""
    from pdf_inspector_spark.kernels.detector import (
        PDF_TYPE_MIXED, PDF_TYPE_TEXT, DetectionConfig, detect_from_document)
    from pdf_inspector_spark.kernels.extractor import extract_positioned_text_from_doc
    from pdf_inspector_spark.kernels.markdown import to_markdown_from_items
    from pdf_inspector_spark.kernels.pdfobj import Document
    from pdf_inspector_spark.kernels.pipeline import items_to_text_and_spans
    from pdf_inspector_spark.kernels.tounicode import FontCMaps

    config = DetectionConfig()
    totals = dict.fromkeys(("load", "detect", "cmaps", "interpret",
                            "group_lines", "markdown"), 0.0)

    def stage(key, fn, *args):
        with tracer.span(f"kernels.{key}"):
            t0 = time.perf_counter()
            out = fn(*args)
            totals[key] += time.perf_counter() - t0
        return out

    for buf in payloads:
        with tracer.span("kernels.document"):
            try:
                doc = stage("load", Document.load_mem, buf)
                det = stage("detect", detect_from_document, doc,
                            doc.page_count(), config)
            except Exception:  # noqa: BLE001 — malformed documents stop here, as in the kernel
                continue
            if det["pdf_type"] not in (PDF_TYPE_TEXT, PDF_TYPE_MIXED):
                continue
            try:
                cmaps = stage("cmaps", FontCMaps.from_pdf_bytes, buf)
                items = stage("interpret", extract_positioned_text_from_doc,
                              doc, cmaps)
                _t, _s, lines = stage("group_lines", items_to_text_and_spans,
                                      items, True)
                stage("markdown", to_markdown_from_items, items, None, lines)
            except Exception:  # noqa: BLE001 — the kernel records these as error rows
                continue
    return {k: v / len(payloads) * 1e6 for k, v in totals.items()}


def kernel_latencies(payloads: list[bytes], cached: bool) -> list[float]:
    """µs per ``process_pdf_mem`` call over ``payloads``."""
    from pdf_inspector_spark.kernels.pipeline import process_pdf_mem
    out = []
    for buf in payloads:
        t0 = time.perf_counter()
        process_pdf_mem(buf, use_cache=cached)
        out.append((time.perf_counter() - t0) * 1e6)
    return out


def kernel_control(payloads: list[bytes], seconds: float = 0.5) -> float:
    """Documents per second of the uncached kernel on one core: a control
    for how fast this machine is right now, outside any timed window."""
    from pdf_inspector_spark.kernels.pipeline import process_pdf_mem
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for buf in payloads:
            process_pdf_mem(buf, use_cache=False)
        n += len(payloads)
    return n / (time.perf_counter() - t0)


# -- process tree memory ----------------------------------------------------

def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and every process
    below it: the Spark JVM and its Python workers."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        tree.update(kids)
        frontier += kids
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
