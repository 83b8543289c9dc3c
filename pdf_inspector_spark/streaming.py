"""Structured Streaming variant of the pipeline.

The reference is a batch library (no streaming semantics); this module is
the engine's forward-looking ingestion path: the SAME fused UDF stage runs
under ``readStream`` → ``writeStream``, so batch and streaming share one
code path (SURVEY.md §2.8 notes streaming as engine-level capability).

- ``stream_pipeline``: file-source stream over a transcripts directory →
  extraction → parquet sink with checkpointing (exactly-once per file via
  the source's file tracking; ``Trigger.AvailableNow`` drains the backlog
  and stops — the batch-parity mode used by tests).
- ``stream_type_rates``: watermarked sliding-window aggregation of
  classification outcomes by event time (`ts`) — late turns beyond the
  watermark are dropped, demonstrating late-data semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def read_transcripts_stream(spark: SparkSession, input_dir: str,
                            max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream
            .schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def stream_pipeline(spark: SparkSession, input_dir: str, output_dir: str,
                    checkpoint_dir: str, *, with_markdown: bool = False,
                    await_termination: bool = True):
    """Continuous extraction: stream in, classify+extract, parquet out."""
    from .pipeline import run_pipeline
    stream = read_transcripts_stream(spark, input_dir)
    result = run_pipeline(stream, with_markdown=with_markdown)
    query = (result.writeStream
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
    if await_termination:
        query.awaitTermination()
    return query


PROGRESS_OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turns_seen", T.LongType()),
    T.StructField("turns_extracted", T.LongType()),
    T.StructField("chars_extracted", T.LongType()),
    T.StructField("max_turn_idx", T.IntegerType()),
])

PROGRESS_STATE_SCHEMA = T.StructType([
    T.StructField("turns_seen", T.LongType()),
    T.StructField("turns_extracted", T.LongType()),
    T.StructField("chars_extracted", T.LongType()),
    T.StructField("max_turn_idx", T.IntegerType()),
])


def _progress_fn(key, pdfs, state):
    """Custom stateful operator body (applyInPandasWithState): maintains a
    running per-conversation extraction ledger across triggers."""
    import pandas as pd
    (conv_id,) = key
    if state.exists:
        turns_seen, turns_extracted, chars_extracted, max_turn = state.get
    else:
        turns_seen, turns_extracted, chars_extracted, max_turn = 0, 0, 0, -1
    for pdf in pdfs:
        turns_seen += len(pdf)
        extracted = pdf["text_out"].dropna()
        turns_extracted += len(extracted)
        chars_extracted += int(extracted.str.len().sum())
        if len(pdf):
            max_turn = max(max_turn, int(pdf["turn_idx"].max()))
    state.update((turns_seen, turns_extracted, chars_extracted, max_turn))
    yield pd.DataFrame([{
        "conv_id": conv_id, "turns_seen": turns_seen,
        "turns_extracted": turns_extracted,
        "chars_extracted": chars_extracted, "max_turn_idx": max_turn,
    }])


def stream_conversation_progress(spark: SparkSession, input_dir: str,
                                 query_name: str = "conv_progress",
                                 await_termination: bool = True):
    """Custom stateful streaming operator: per-conversation running
    extraction progress via ``applyInPandasWithState`` (state survives
    across triggers via the checkpointed state store; memory sink in
    update mode for inspection)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .pipeline import run_pipeline
    stream = read_transcripts_stream(spark, input_dir)
    result = run_pipeline(stream, with_markdown=False)
    progress = (result.select("conv_id", "turn_idx", "text_out")
                .groupBy("conv_id")
                .applyInPandasWithState(
                    _progress_fn, PROGRESS_OUTPUT_SCHEMA,
                    PROGRESS_STATE_SCHEMA, "update",
                    GroupStateTimeout.NoTimeout))
    query = (progress.writeStream
             .format("memory")
             .queryName(query_name)
             .outputMode("update")
             .trigger(availableNow=True)
             .start())
    if await_termination:
        query.awaitTermination()
    return query


def stream_pipeline_with_lineage(spark: SparkSession, input_dir: str,
                                 output_dir: str, checkpoint_dir: str,
                                 run_id: str = "stream",
                                 await_termination: bool = True):
    """Streaming extraction with the SAME lineage contract as the batch
    path: each micro-batch lands idempotently (batch_id partition +
    dynamic overwrite → replaying a batch after a crash replaces rather
    than duplicates) and appends a lineage row with row/quarantine
    counts and throughput."""
    import os
    import time

    import pyspark.sql.functions as SF
    from pyspark.sql import Observation

    from .lineage import LINEAGE_SCHEMA, append_lineage
    from .pipeline import run_pipeline

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out_path = os.path.join(output_dir, "turns")
    lineage_path = os.path.join(output_dir, "_lineage")
    # the batch lineage table, keyed by micro-batch instead of bucket
    lineage_schema = LINEAGE_SCHEMA.replace("bucket int", "batch_id long")
    stream = read_transcripts_stream(spark, input_dir)
    result = run_pipeline(stream, with_markdown=False)

    def write_batch(batch_df, batch_id: int) -> None:
        t0 = time.monotonic()
        batch_df = batch_df.persist()
        try:
            # The quarantine count rides the row-count job as an
            # observed metric (COUNT(error_kind) = non-null rows, the
            # exact old WHERE isNotNull count) instead of a third full
            # pass over the cached batch: 3 jobs/batch -> 2, and the
            # empty-batch early-return still happens before any write.
            obs = Observation()
            n = batch_df.observe(
                obs, SF.count(SF.lit(1)).alias("n"),
                SF.count("error_kind").alias("n_q")).count()
            if n == 0:
                return
            (batch_df
             .withColumn("quarantined", SF.col("error_kind").isNotNull())
             .withColumn("batch_id", SF.lit(batch_id))
             .write.mode("overwrite")
             .partitionBy("batch_id", "quarantined")
             .parquet(out_path))
            # Trust-but-verify: the metrics node sits below count()'s
            # partial-aggregate stage, and map-stage accumulator updates
            # can double-apply if a task is resubmitted (result-stage
            # exactly-once does not cover them). Any such inflation
            # raises the observed n away from the exactly-once count()
            # result, so compare and fall back to the exact pass only in
            # that rare case — the common path stays at 2 jobs/batch.
            observed = obs.get
            if int(observed["n"] or 0) == n:
                n_q = int(observed["n_q"] or 0)
            else:
                n_q = batch_df.where(
                    SF.col("error_kind").isNotNull()).count()
            elapsed = time.monotonic() - t0
            append_lineage(lineage_path, lineage_schema,
                           [(run_id, int(batch_id), n, n - n_q, n_q,
                             n / elapsed if elapsed > 0 else 0.0)])
        finally:
            batch_df.unpersist()

    query = (result.writeStream
             .foreachBatch(write_batch)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
    if await_termination:
        query.awaitTermination()
    return query


def stream_type_rates(spark: SparkSession, input_dir: str, output_dir: str,
                      checkpoint_dir: str, *,
                      window: str = "1 hour", watermark: str = "2 hours",
                      await_termination: bool = True):
    """Watermarked windowed aggregation: classification counts per
    event-time window. Uses the classification stage only (cheap)."""
    from .pipeline import with_classification
    stream = read_transcripts_stream(spark, input_dir)
    classified = with_classification(stream)
    agg = (classified
           .withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"),
                    F.col("cls.pdf_type").alias("pdf_type"))
           .agg(F.count("*").alias("n_turns"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "pdf_type", "n_turns"))
    query = (agg.writeStream
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .outputMode("append")
             .start())
    if await_termination:
        query.awaitTermination()
    return query
