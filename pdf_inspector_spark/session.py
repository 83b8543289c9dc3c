"""SparkSession factory with scale-appropriate defaults.

Tuned for the pipeline's shape: Arrow-batched pandas UDF stages over
string payload columns. On a real cluster the same config applies per
executor; locally we run ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Engine settings every session of the pipeline runs with, local or under
# spark-submit: get_spark adds a local master and local sizing on top, and
# jobs/extract_job.py applies them as they are.
ENGINE_CONF = {
    # AQE: runtime coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Local shuffles default to the bypass-merge writer below 200
    # reduce partitions: every map task opens one FILE PER REDUCE
    # PARTITION (64 tasks × 64 partitions = 4k file opens/fsyncs —
    # measured ~350 ms/task on the capped-bands exchange, 10× the
    # stage's actual CPU). Threshold 1 forces the serialized sort
    # writer (one spill file per task) — the same writer any real
    # cluster uses, since production reduce counts exceed 200. A core
    # conf: it must be set before the context exists.
    "spark.shuffle.sort.bypassMergeThreshold": "1",
    # payload rows are KB–MB scale, so small Arrow batches bound
    # executor-python memory (SURVEY.md §4 "vectorized execution" row)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "pdf-inspector-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch_rows: int = 1024,
              extra_conf: dict | None = None) -> SparkSession:
    """Create (or get) a local ``local[cpus]`` SparkSession with
    ``ENGINE_CONF``.

    - shuffle.partitions ≈ 2×cores locally; on a cluster, size to
      target ~128MB-of-derived-columns per task, not payload bytes.
    - ``arrow_batch_rows`` overrides the Arrow batch size.
    """
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)
    conf = {
        **ENGINE_CONF,
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch_rows),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Scan-split wave quantization (r3): Spark sizes file splits to
        # hit defaultParallelism partitions, so an N-core session gets
        # ~N+1 scan tasks — at local[8] that is 9 tasks = 2 ragged waves
        # ≈ 56-77% utilization, which r2's driver run read as an
        # "engine-side 2→8 scaling loss". For CPU-heavy per-row UDF work
        # tasks must be ≫ cores at EVERY level: target 4 waves. (The r2
        # fix applied this logic to file count; splits quantize the same
        # way. A real cluster wants the same: splits ≫ executor cores.)
        "spark.sql.files.minPartitionNum": str(4 * cpus),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # executor-python workers must import this package regardless of
        # the launch cwd (spark-submit --py-files equivalent for local)
        "spark.executorEnv.PYTHONPATH": repo_root,
        **(extra_conf or {}),
    }
    return (SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
            .config(map=conf).getOrCreate())
