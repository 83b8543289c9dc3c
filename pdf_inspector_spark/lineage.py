"""Checkpoint / lineage / idempotent resume (north-rule requirement).

Design (SURVEY.md §1.3): the input keyspace is split into ``num_buckets``
deterministic buckets via ``pmod(xxhash64(conv_id, turn_idx), K)``; buckets
are processed in *waves* (a few buckets per Spark job). Each wave:

1. runs the pipeline over its buckets and lands good and quarantined rows
   in ONE partitioned parquet write — the wave's only Spark job. Per-bucket
   input counts ride that write as observed metrics;
2. commits on the driver: the landed per-bucket counts are the parquet
   footer ``num_rows`` of the committed files (exact, no data scanned), and
   one lineage row per bucket is appended as a single parquet file

       lineage(run_id, bucket, rows_in, rows_out, rows_quarantined,
               turns_per_sec, completed_at)

   written under a ``_``-prefixed temp name (which Spark and the lineage
   reader skip) and renamed into ``_lineage/``, so readers never see a
   half-written file.

A run is therefore 1 input-schema job plus 1 job per wave. The driver must
be able to open ``output_dir`` as a filesystem path.

Resume = anti-join the input against completed (run_id, bucket) pairs: a
killed run re-executes only unfinished waves, and the bucket-partitioned
parquet output (dynamic partition overwrite) makes re-execution
idempotent — rerunning a half-written wave replaces its partitions.

The reference has no equivalent (single-process library); this layer is
what makes the pipeline restartable at 10^12-turn scale.

Scale note: locally each wave re-scans the input and filters on the
computed bucket column (no pushdown for a derived hash). On a real
deployment the input table should be PARTITIONED OR BUCKETED on the same
``pmod(xxhash64(conv_id, turn_idx), K)`` expression (Iceberg bucket
transform / Spark bucketBy), which turns the wave filter into partition
pruning and removes the re-scan amplification.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from .pipeline import run_pipeline, salt_column

LINEAGE_SCHEMA = ("run_id string, bucket int, rows_in long, rows_out long, "
                  "rows_quarantined long, turns_per_sec double, completed_at timestamp")

# Spark DDL type → the Arrow type Spark reads back as that type. The
# timestamp must carry a time zone: parquet then marks it UTC-adjusted and
# Spark reads ``timestamp``, not ``timestamp_ntz``.
_ARROW_TYPES = {"string": pa.string(), "int": pa.int32(), "long": pa.int64(),
                "double": pa.float64(),
                "timestamp": pa.timestamp("us", tz="UTC")}


def lineage_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_lineage")


def _data_files(directory: str) -> list[str]:
    """Committed parquet files in ``directory``: names starting with ``_``
    or ``.`` (temp files, markers, checksums) are skipped, as Spark skips
    them. A missing directory has none."""
    try:
        names = os.listdir(directory)
    except FileNotFoundError:
        return []
    return [os.path.join(directory, n) for n in sorted(names)
            if not n.startswith(("_", "."))]


def append_lineage(path: str, ddl: str, rows: list[tuple]) -> None:
    """Append ``rows`` (every column of ``ddl`` but the trailing
    ``completed_at``, which is stamped now) as one parquet file in
    ``path``, atomically: written under a ``_`` temp name, then renamed."""
    schema = pa.schema([(name, _ARROW_TYPES[typ])
                        for name, typ in (f.split() for f in ddl.split(","))])
    now = datetime.datetime.now(datetime.timezone.utc)
    columns = [*zip(*rows), [now] * len(rows)]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, schema)],
        schema=schema)
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, "_" + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, name))


def read_completed_buckets(spark: SparkSession, output_dir: str,
                           run_id: str) -> set[int]:
    """Buckets of ``run_id`` with a committed lineage row, read on the
    driver (no Spark job); ``spark`` is unused. No lineage yet → empty."""
    done: set[int] = set()
    for f in _data_files(lineage_path(output_dir)):
        t = pq.read_table(f, columns=["run_id", "bucket"])
        done.update(b for r, b in zip(t["run_id"].to_pylist(),
                                      t["bucket"].to_pylist()) if r == run_id)
    return done


def _landed_rows(out_path: str, quarantined: bool, bucket: int) -> int:
    d = os.path.join(out_path, f"quarantined={str(quarantined).lower()}",
                     f"bucket={bucket}")
    return sum(pq.read_metadata(f).num_rows for f in _data_files(d))


def run_with_checkpoint(spark: SparkSession, input_path: str, output_dir: str,
                        run_id: str, *, num_buckets: int = 16,
                        buckets_per_wave: int = 4,
                        with_markdown: bool = True,
                        salt_buckets: int | None = None,
                        fail_after_waves: int | None = None) -> dict:
    """Run the pipeline bucket-wave by bucket-wave with lineage commits.

    ``fail_after_waves`` injects a crash after N waves (for resume tests).
    Returns run metrics. Safe to call again with the same run_id after a
    crash: completed buckets are skipped via the lineage anti-join.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df = spark.read.parquet(input_path)
    df = df.withColumn("bucket", salt_column(num_buckets).cast("int"))

    completed = read_completed_buckets(spark, output_dir, run_id)
    todo = [b for b in range(num_buckets) if b not in completed]
    out_path = os.path.join(output_dir, "turns")

    waves = [todo[i:i + buckets_per_wave]
             for i in range(0, len(todo), buckets_per_wave)]
    total_rows = 0
    for wave_idx, wave in enumerate(waves):
        if fail_after_waves is not None and wave_idx >= fail_after_waves:
            raise RuntimeError(f"injected failure before wave {wave_idx}")
        t0 = time.monotonic()
        # Input-side per-bucket counts ride the write pass as observed
        # metrics (one conditional count per bucket in the wave — the
        # wave list is small and known here), keeping their semantics
        # (rows ENTERING the pipeline, so row loss inside the kernel
        # stage remains detectable against the landed counts) while
        # dropping the separate input re-scan per wave. Safe because
        # run_pipeline is a fused single-branch plan: the observed
        # node executes exactly once per row.
        obs = Observation()
        wave_df = df.where(F.col("bucket").isin(wave)).observe(
            obs, *[F.sum((F.col("bucket") == b).cast("long"))
                   .alias(f"b{b}") for b in wave])
        result = run_pipeline(wave_df, with_markdown=with_markdown,
                              salt_buckets=salt_buckets)
        # ONE compute pass lands both sinks: quarantine routing is a
        # partition column, so good/quarantine are directory subtrees of
        # a single write (no second pipeline execution).
        (result.withColumn("quarantined", F.col("error_kind").isNotNull())
         .write.mode("overwrite").partitionBy("quarantined", "bucket")
         .parquet(out_path))
        elapsed = time.monotonic() - t0
        observed = obs.get
        in_counts = {b: int(observed[f"b{b}"] or 0) for b in wave}
        out_counts = {b: _landed_rows(out_path, False, b) for b in wave}
        q_counts = {b: _landed_rows(out_path, True, b) for b in wave}
        # Trust-but-verify: when salt_buckets routes the plan through a
        # repartition, the metrics node sits in a shuffle-map stage and
        # a resubmitted map task can double-apply its accumulator
        # updates (result-stage exactly-once does not cover map stages).
        # The landed counts are footer row counts of committed files
        # (exact), so any per-bucket imbalance — inflation OR real row
        # loss — triggers one exact input recount, keeping the recorded
        # rows_in exact and the row-loss detector meaningful. Common
        # path: no extra job. The one window left (ADVICE.md: an
        # inflation that exactly cancels a real loss in the same bucket)
        # exists only on the salted plan; the unsalted plan's metrics
        # node runs in the result stage, exactly once.
        if any(in_counts.get(b, 0) != out_counts[b] + q_counts[b]
               for b in wave):
            in_counts = {r["bucket"]: r["n"] for r in
                         wave_df.groupBy("bucket")
                         .agg(F.count("*").alias("n")).collect()}
        wave_rows = sum(in_counts.values())
        total_rows += wave_rows
        tps = wave_rows / elapsed if elapsed > 0 else 0.0
        append_lineage(lineage_path(output_dir), LINEAGE_SCHEMA,
                       [(run_id, b, in_counts.get(b, 0), out_counts[b],
                         q_counts[b], tps) for b in wave])

    return {"run_id": run_id, "buckets_total": num_buckets,
            "buckets_skipped": len(completed), "rows_processed": total_rows}


def read_turns(spark: SparkSession, output_dir: str) -> DataFrame:
    """The good-rows sink (quarantined=false partition subtree; the
    partition column round-trips as string)."""
    return (spark.read.parquet(os.path.join(output_dir, "turns"))
            .where(F.col("quarantined").cast("string") == "false"))


def read_quarantine(spark: SparkSession, output_dir: str) -> DataFrame:
    return (spark.read.parquet(os.path.join(output_dir, "turns"))
            .where(F.col("quarantined").cast("string") == "true"))
