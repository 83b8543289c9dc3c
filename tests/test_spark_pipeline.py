"""End-to-end Spark pipeline tests: per-turn byte-equality vs the kernel
fixtures under stable turn ordering (the north-rule contract), routing
selectivity, quarantine, salting plan shape, and kill-and-resume."""

import os

import pyspark.sql.functions as F
import pytest

from pdf_inspector_spark.corpus import corpus_payloads
from pdf_inspector_spark.pipeline import (run_pipeline, run_pipeline_dedup,
                                          with_turn_order)
from pdf_inspector_spark.transcripts import expected_turns


@pytest.fixture(scope="module")
def result_df(spark, tsmall_path):
    df = spark.read.parquet(tsmall_path)
    result = with_turn_order(run_pipeline(df, with_markdown=True)).cache()
    yield result
    result.unpersist()


def test_per_turn_text_equality(result_df):
    """North rule: per-turn extracted text equals the kernel-oracle
    fixtures byte-for-byte under Window.partitionBy(conv_id).orderBy(turn_idx)."""
    rows = result_df.orderBy("conv_id", "turn_idx").collect()
    expected = expected_turns("t-small")
    assert len(rows) == len(expected)
    mismatches = []
    for row, exp in zip(rows, expected):
        assert (row["conv_id"], row["turn_idx"]) == (exp["conv_id"], exp["turn_idx"])
        if row["text_out"] != exp["text"]:
            mismatches.append((exp["conv_id"], exp["turn_idx"], exp["doc_id"]))
    assert not mismatches, f"text mismatch on {len(mismatches)} turns: {mismatches[:5]}"


def test_classification_matches_fixtures(result_df):
    rows = result_df.orderBy("conv_id", "turn_idx").collect()
    expected = expected_turns("t-small")
    for row, exp in zip(rows, expected):
        assert row["pdf_type"] == exp["pdf_type"], (exp["doc_id"], row["pdf_type"])


def test_turn_ordering_is_dense(result_df):
    """row_number per conv matches turn_idx + 1 (dense, stable ordering)."""
    bad = result_df.where(F.col("turn_rank") != F.col("turn_idx") + 1).count()
    assert bad == 0


def test_quarantine_routing(result_df):
    good = result_df.where(F.col("error_kind").isNull())
    quarantine = result_df.where(F.col("error_kind").isNotNull())
    expected = expected_turns("t-small")
    n_bad = sum(1 for e in expected if e["error_kind"] is not None)
    assert quarantine.count() == n_bad
    assert good.count() == len(expected) - n_bad
    # quarantined rows carry the error kind, good rows never do
    kinds = {r["error_kind"] for r in quarantine.select("error_kind").collect()}
    assert None not in kinds and kinds


def test_early_exit_rows_not_extracted(result_df):
    scanned = result_df.where(F.col("pdf_type") == "scanned")
    assert scanned.count() > 0
    assert scanned.where(F.col("text_out").isNotNull()).count() == 0
    assert scanned.where(~F.col("ocr_recommended")).count() == 0


def test_salted_plan_repartitions_before_extract(spark, tsmall_path):
    df = spark.read.parquet(tsmall_path)
    plan = run_pipeline(df, salt_buckets=8)._jdf.queryExecution().toString()
    assert "hashpartitioning" in plan or "REPARTITION" in plan


def test_payload_not_in_output(result_df):
    """The payload column must be dropped before the output/ordering
    shuffle — only derived columns move (scale contract)."""
    assert "text" not in result_df.columns
    assert "text_out" in result_df.columns


def test_markdown_produced_for_text_docs(result_df):
    md_rows = result_df.where(F.col("pdf_type") == "text_based") \
        .where(F.col("markdown").isNull()).count()
    assert md_rows == 0


def test_kill_and_resume(spark, tsmall_path, tmp_path):
    """Crash mid-run → second invocation skips completed buckets and the
    final output equals a clean one-shot run (idempotent resume)."""
    from pdf_inspector_spark.lineage import (read_completed_buckets,
                                             read_quarantine, read_turns,
                                             run_with_checkpoint)
    out_dir = os.path.join(str(tmp_path), "out")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoint(spark, tsmall_path, out_dir, "run-1",
                            num_buckets=8, buckets_per_wave=2,
                            with_markdown=False, fail_after_waves=2)
    done = read_completed_buckets(spark, out_dir, "run-1")
    assert 0 < len(done) < 8, "partial progress expected after crash"

    metrics = run_with_checkpoint(spark, tsmall_path, out_dir, "run-1",
                                  num_buckets=8, buckets_per_wave=2,
                                  with_markdown=False)
    assert metrics["buckets_skipped"] == len(done)

    turns = read_turns(spark, out_dir)
    quarantine = read_quarantine(spark, out_dir)
    expected = expected_turns("t-small")
    n_bad = sum(1 for e in expected if e["error_kind"] is not None)
    assert turns.count() == len(expected) - n_bad
    assert quarantine.count() == n_bad
    # no duplicates from re-run waves
    assert turns.select("conv_id", "turn_idx").distinct().count() == turns.count()
    # lineage covers every bucket exactly once
    lineage = spark.read.parquet(os.path.join(out_dir, "_lineage"))
    per_bucket = lineage.groupBy("bucket").count().collect()
    assert len(per_bucket) == 8
    assert all(r["count"] == 1 for r in per_bucket)
    # input-side counts (r7: observed metrics on the write pass, not a
    # separate input scan) must still cover every input row and balance
    # against the landed output per bucket — the row-loss detector the
    # input-side semantics exist for.
    assert lineage.agg(F.sum("rows_in")).collect()[0][0] == len(expected)
    imbalanced = lineage.where(
        F.col("rows_in") != F.col("rows_out") + F.col("rows_quarantined"))
    assert imbalanced.count() == 0, imbalanced.collect()


def test_wave_commit_runs_one_job_per_wave(spark, tsmall_path, tmp_path):
    """A wave's write is its only Spark job: landed counts come from
    parquet footers and the lineage append is a driver-side file write.
    8 buckets in waves of 2 → 1 input-schema job + 4 write jobs."""
    import uuid

    from pdf_inspector_spark.lineage import run_with_checkpoint
    sc = spark.sparkContext
    group = f"wave-commit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run_with_checkpoint(spark, tsmall_path, str(tmp_path / "out"), "jobs",
                            num_buckets=8, buckets_per_wave=2,
                            with_markdown=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1 + 4


def test_lineage_schema_across_writers(spark, tmp_path):
    """A Spark-written lineage file (the earlier writer) and a pyarrow
    one read back as one table with LINEAGE_SCHEMA's types, and resume
    sees the buckets of both."""
    from pdf_inspector_spark.lineage import (LINEAGE_SCHEMA, append_lineage,
                                             lineage_path,
                                             read_completed_buckets)
    out_dir = str(tmp_path)
    path = lineage_path(out_dir)
    (spark.createDataFrame([("r", 0, 10, 9, 1, 5.0)],
                           LINEAGE_SCHEMA.rsplit(",", 1)[0])
     .withColumn("completed_at", F.current_timestamp())
     .write.mode("append").parquet(path))
    append_lineage(path, LINEAGE_SCHEMA, [("r", 1, 7, 7, 0, 3.5)])

    expected = spark.createDataFrame([], LINEAGE_SCHEMA).dtypes
    lineage = spark.read.parquet(path)
    assert lineage.dtypes == expected
    rows = sorted(lineage.collect(), key=lambda r: r["bucket"])
    assert [tuple(r)[:6] for r in rows] == [("r", 0, 10, 9, 1, 5.0),
                                            ("r", 1, 7, 7, 0, 3.5)]
    assert all(r["completed_at"] is not None for r in rows)
    assert read_completed_buckets(spark, out_dir, "r") == {0, 1}
    assert read_completed_buckets(spark, out_dir, "other") == set()


def test_lineage_temp_file_is_ignored(spark, tmp_path):
    """A crash between writing a lineage file and renaming it leaves a
    ``_part-*.parquet`` temp file; neither resume nor Spark may read it."""
    from pdf_inspector_spark.lineage import (LINEAGE_SCHEMA, append_lineage,
                                             lineage_path,
                                             read_completed_buckets)
    out_dir = str(tmp_path / "out")
    path = lineage_path(out_dir)
    assert read_completed_buckets(spark, out_dir, "r") == set()
    append_lineage(path, LINEAGE_SCHEMA, [("r", 2, 4, 4, 0, 1.0)])
    staged = str(tmp_path / "staged")
    append_lineage(staged, LINEAGE_SCHEMA, [("r", 1, 7, 7, 0, 3.5)])
    (name,) = os.listdir(staged)
    os.replace(os.path.join(staged, name), os.path.join(path, "_" + name))
    assert read_completed_buckets(spark, out_dir, "r") == {2}
    assert [r["bucket"] for r in spark.read.parquet(path).collect()] == [2]


def test_binary_payload_column(spark, tmp_path):
    """The pipeline accepts raw binary payload columns too (not just the
    latin-1-carried string shape from input_hint)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payloads = corpus_payloads()
    rows = [("c-0", i, payloads[d])
            for i, d in enumerate(["tj_basic", "scanned_only", "malformed"])]
    table = pa.Table.from_pylist(
        [{"conv_id": c, "turn_idx": t, "text": p} for c, t, p in rows],
        schema=pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                          ("text", pa.binary())]))
    path = str(tmp_path / "bin.parquet")
    pq.write_table(table, path)
    df = spark.read.parquet(path)
    assert dict(df.dtypes)["text"] == "binary"
    out = {r["turn_idx"]: r for r in run_pipeline(
        df, with_markdown=False).collect()}
    assert out[0]["pdf_type"] == "text_based"
    assert out[0]["text_out"].startswith("Hello World")
    assert out[1]["pdf_type"] == "scanned"
    assert out[2]["error_kind"] is not None


def test_cache_bypassed_pipeline_identical(spark, tsmall_path, result_df):
    """payload_cache=False (the scaling-ladder mode) must produce rows
    identical to the cached production path — the LRU is an optimization,
    never a semantic switch."""
    df = spark.read.parquet(tsmall_path)
    raw = with_turn_order(run_pipeline(df, with_markdown=True,
                                       payload_cache=False))
    cols = ["conv_id", "turn_idx", "pdf_type", "text_out", "markdown",
            "error_kind", "n_spans"]
    a = (raw.withColumn("n_spans", F.coalesce(F.size("spans"), F.lit(0)))
         .select(cols).orderBy("conv_id", "turn_idx").collect())
    b = (result_df.withColumn("n_spans",
                              F.coalesce(F.size("spans"), F.lit(0)))
         .select(cols).orderBy("conv_id", "turn_idx").collect())
    assert a == b


def test_dedup_plan_identical_to_row_plan(spark, tsmall_path, result_df):
    """run_pipeline_dedup (distinct-payload plan) must produce rows
    identical to the per-row plan, including NULL-payload quarantine
    rows (sentinel join key)."""
    df = spark.read.parquet(tsmall_path)
    cols = ["conv_id", "turn_idx", "pdf_type", "text_out", "markdown",
            "error_kind"]
    a = sorted(map(str, run_pipeline_dedup(df).select(cols).collect()))
    b = sorted(map(str, result_df.select(cols).collect()))
    assert a == b
    withnull = df.withColumn(
        "text", F.when(F.col("turn_idx") == 0, None).otherwise(F.col("text")))
    c = sorted(map(str, run_pipeline_dedup(withnull).select(cols).collect()))
    d = sorted(map(str, with_turn_order(
        run_pipeline(withnull, with_markdown=True)).select(cols).collect()))
    assert c == d
    spark.catalog.clearCache()


def test_plans_share_one_projection(spark, tsmall_path):
    """Both plans end in the same flattened PROC_SCHEMA projection."""
    df = spark.read.parquet(tsmall_path)
    assert run_pipeline(df).dtypes == run_pipeline_dedup(df).dtypes


def test_fused_plan_has_one_python_stage(spark, tsmall_path):
    """The fused plan evaluates exactly one pandas UDF over the scan."""
    df = spark.read.parquet(tsmall_path)
    plan = run_pipeline(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_dedup_plan_shape(spark, tsmall_path):
    """The distinct stage must show a partial (map-side) aggregate — the
    combine that collapses duplicate payloads BEFORE the exchange — and
    the join back must not carry the payload column."""
    df = spark.read.parquet(tsmall_path)
    plan = (run_pipeline_dedup(df)._jdf.queryExecution()
            .executedPlan().toString())
    assert "partial_first" in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    # the probe side of the join carries only the content key + metadata
    # (payload never re-enters after the distinct stage): the ONLY scan
    # that outputs `text` feeds the aggregate, and ArrowEvalPython sits
    # strictly above the aggregate, not above the raw scan
    agg_pos = plan.index("partial_first")
    arrow_pos = plan.index("ArrowEvalPython")
    assert arrow_pos < agg_pos  # tree prints top-down: python above agg


def test_string_payload_crosses_arrow_boundary_as_binary(spark, tsmall_path):
    """r5 binary fast path: a latin-1-carried STRING payload must be
    encoded to binary on the JVM side before the Arrow boundary (UTF-8
    string transfer inflates high-bit bytes 2x and pays a charset
    conversion on both sides — BENCH.md r5 ablation). Pin the encode in
    the optimized plan for both the fused and dedup-aware pipelines."""
    df = spark.read.parquet(tsmall_path)
    assert dict(df.dtypes)["text"] == "string"
    for mk in (lambda: run_pipeline(df, with_markdown=False),
               lambda: run_pipeline_dedup(df, with_markdown=False)):
        plan = mk()._jdf.queryExecution().executedPlan().toString()
        assert "encode(" in plan or "Encode.encode" in plan, plan


def _non_latin1_frame(spark):
    """Three turns: a good PDF, the same PDF behind a character above
    U+00FF (a string that cannot carry latin-1 bytes) and a NULL."""
    good = corpus_payloads()["tj_basic"].decode("latin-1")
    rows = [("c-0", 0, good), ("c-0", 1, "bad\u20ac payload" + good),
            ("c-0", 2, None)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string")


@pytest.mark.parametrize("plan", [run_pipeline, run_pipeline_dedup],
                         ids=lambda plan: plan.__name__)
def test_non_latin1_payload_is_quarantined(spark, plan):
    """The guarded JVM-side encode skips a non-latin-1 row and the UDF
    turns it into an error row; the rest of the batch is unaffected
    (an unguarded encode fails the whole job)."""
    out = {r["turn_idx"]: r for r in
           plan(_non_latin1_frame(spark), with_markdown=False).collect()}
    assert out[0]["error_kind"] is None
    assert out[0]["text_out"].startswith("Hello World")
    assert out[1]["error_kind"] == "UnicodeEncodeError"
    assert "latin-1" in out[1]["error_msg"] and out[1]["text_out"] is None
    assert out[2]["error_kind"] == "NullPayload"


def test_non_latin1_payload_is_quarantined_in_a_wave(spark, tmp_path):
    """In a deploy wave the non-latin-1 row lands under quarantined=true
    and every bucket's lineage row balances."""
    from pdf_inspector_spark.lineage import (read_quarantine, read_turns,
                                             run_with_checkpoint)
    src = str(tmp_path / "src")
    _non_latin1_frame(spark).write.parquet(src)
    out_dir = str(tmp_path / "out")
    run_with_checkpoint(spark, src, out_dir, "r", num_buckets=2,
                        buckets_per_wave=2, with_markdown=False)
    assert [r["turn_idx"] for r in read_turns(spark, out_dir).collect()] == [0]
    kinds = {r["turn_idx"]: r["error_kind"]
             for r in read_quarantine(spark, out_dir).collect()}
    assert kinds == {1: "UnicodeEncodeError", 2: "NullPayload"}
    lineage = spark.read.parquet(os.path.join(out_dir, "_lineage")).collect()
    assert sum(r["rows_in"] for r in lineage) == 3
    assert all(r["rows_in"] == r["rows_out"] + r["rows_quarantined"]
               for r in lineage)
