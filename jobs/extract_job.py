"""Production entry point: the extraction pipeline as a spark-submit job.

    spark-submit --py-files pdf_inspector_spark.zip jobs/extract_job.py \
        --input  <transcripts dir/table> \
        --output <output dir> \
        --run-id <id> [--buckets 256] [--wave 16] [--salt 1024] \
        [--no-markdown]

Each wave of --wave buckets runs one Spark job (its write), so a run is
one input-schema job plus one job per wave. The wave commits from the
driver: landed row counts come from the parquet footers under --output and
one lineage file is appended to --output/_lineage, so the driver must be
able to open --output through pyarrow (a local or mounted path).

Resumable: rerunning with the same --run-id and --output skips buckets
whose lineage rows are committed (see pdf_inspector_spark.lineage).
Build the zip with:  python jobs/build_pyfiles.py
"""

from __future__ import annotations

import argparse
import json
import sys


def spark_conf() -> dict[str, str]:
    """The job's session conf: session.py's engine settings under the
    job's app name. It sets no master; spark-submit supplies one."""
    from pdf_inspector_spark.session import ENGINE_CONF
    return {"spark.app.name": "pdf-inspector-extract", **ENGINE_CONF}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="pdf-inspector-spark extraction job")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--wave", type=int, default=16)
    p.add_argument("--salt", type=int, default=None,
                   help="salt buckets for the skew repartition (default: off; "
                        "scan parallelism usually suffices)")
    p.add_argument("--no-markdown", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.config(map=spark_conf()).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Scan splits must be ≫ total cores or wave quantization caps
    # utilization (measured: local[8] got 9 splits = 2 ragged waves;
    # same math applies per-executor on a cluster). Target ≥4 waves.
    spark.conf.set("spark.sql.files.minPartitionNum",
                   str(4 * spark.sparkContext.defaultParallelism))

    from pdf_inspector_spark.lineage import run_with_checkpoint
    metrics = run_with_checkpoint(
        spark, args.input, args.output, args.run_id,
        num_buckets=args.buckets, buckets_per_wave=args.wave,
        with_markdown=not args.no_markdown, salt_buckets=args.salt)
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
