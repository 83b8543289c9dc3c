"""The Spark extraction plans: one Arrow-batched pandas UDF over the
payload, run per row (fused plan) or per distinct payload (dedup plan).

Fused plan, ``run_pipeline`` (the deploy path, lineage.py):

    ParquetScan(transcripts, project: conv_id,turn_idx,text,…)
      → [Repartition[hash(conv_id, turn_idx) salt]]
      → ArrowEvalPython[process_udf(guarded encode(text))]
      → Project   (payload dropped; PROC_SCHEMA fields flattened)

Dedup plan, ``run_pipeline_dedup``:

    ParquetScan → partial/final first-agg on sha256(text):length
      → ArrowEvalPython[process_udf] over distinct payloads → Project
      → join back on the content key to the payload-free metadata scan

Failures are rows, not exceptions: ``error_kind`` is set and the row
lands in the quarantine sink. Ordering contract: ``with_turn_order``.
All per-document logic lives in the kernels; this module is pure
DataFrame orchestration, so Catalyst handles pushdown/pruning for
everything outside the UDF boundary.
"""

from __future__ import annotations

import functools
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

# --------------------------------------------------------------------------
# Result schema (SURVEY.md §1.1 Spark mapping)
# --------------------------------------------------------------------------

SPAN_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("x", T.FloatType()),
    T.StructField("y", T.FloatType()),
    T.StructField("font_size", T.FloatType()),
]))

PROC_SCHEMA = T.StructType([
    T.StructField("pdf_type", T.StringType()),
    T.StructField("page_count", T.IntegerType()),
    T.StructField("confidence", T.FloatType()),
    T.StructField("ocr_recommended", T.BooleanType()),
    T.StructField("title", T.StringType()),
    T.StructField("text_out", T.StringType()),
    T.StructField("spans", SPAN_SCHEMA),
    T.StructField("markdown", T.StringType()),
    T.StructField("error_kind", T.StringType()),
    T.StructField("error_msg", T.StringType()),
    T.StructField("processing_time_ms", T.LongType()),
])

PROC_COLS = PROC_SCHEMA.fieldNames()

# The PROC_SCHEMA row with nothing detected or extracted; error rows and
# classify-only rows fill in from it.
_EMPTY_ROW = {c: None for c in PROC_COLS} | {
    "page_count": 0, "confidence": 0.0, "ocr_recommended": False,
    "spans": [], "processing_time_ms": 0}


def _error_row(kind: str, msg: str) -> dict:
    return _EMPTY_ROW | {"error_kind": kind, "error_msg": msg}


# --------------------------------------------------------------------------
# The UDF (Arrow-batched; kernels imported on the executor)
# --------------------------------------------------------------------------

@functools.cache
def _process_udf(mode: str, use_cache: bool = True):
    """The pandas UDF for ``mode`` ``classify`` / ``text`` / ``markdown``
    over the two columns of ``_payload_args``. Iterator form, so the
    kernel import happens once per executor Python worker, not once per
    batch. ``use_cache=False`` bypasses the kernel's result LRU (perf
    harnesses measure the raw kernel with it)."""

    @F.pandas_udf(PROC_SCHEMA)
    def process_udf(batches: Iterator[tuple[pd.Series, pd.Series]]
                    ) -> Iterator[pd.DataFrame]:
        from .kernels.pipeline import classify_mem, process_pdf_mem
        for payloads, unencoded in batches:
            rows = []
            for payload, raw in zip(payloads, unencoded):
                try:
                    if raw is not None:
                        payload = raw.encode("latin-1")
                except UnicodeEncodeError as exc:
                    # error-as-row: one undecodable turn must not fail
                    # the stage (SURVEY §2.1 error-channel contract)
                    rows.append(_error_row(type(exc).__name__, str(exc)[:500]))
                    continue
                if payload is None:
                    rows.append(_error_row("NullPayload", "text is null"))
                elif mode == "classify":
                    rows.append(_EMPTY_ROW | classify_mem(payload))
                else:
                    r = process_pdf_mem(payload,
                                        with_markdown=mode == "markdown",
                                        use_cache=use_cache)
                    r["text_out"] = r.pop("text")
                    rows.append(r)
            yield pd.DataFrame(rows, columns=PROC_COLS)

    # Nondeterministic marking is a Catalyst barrier against duplicating
    # this expensive UDF into both sides of a filter+project split (the
    # output IS deterministic; only duplicate evaluation is suppressed).
    return process_udf.asNondeterministic()


# --------------------------------------------------------------------------
# DataFrame stages
# --------------------------------------------------------------------------

# Any character a latin-1 encode cannot carry (Java regex syntax).
_NON_LATIN1 = "[^\\x{00}-\\x{FF}]"


def _payload_args(df: DataFrame):
    """The UDF's two input columns: the payload as BINARY, and the raw
    string of rows the JVM does not encode (NULL on every other row).

    A latin-1-carried STRING payload (the input_hint shape) is encoded
    on the JVM side: Arrow ships strings as UTF-8, which inflates
    high-bit bytes 2x and pays a charset conversion on both sides of the
    socket — measured 95.7 → 76.7 µs/turn on the no-op-UDF floor (r5
    ablation, t-med n4). Spark's ``encode`` raises a job-fatal
    MALFORMED_CHARACTER_CODING on a character above U+00FF, so such rows
    skip it and cross as their string; the UDF's encode then fails
    per row and the row is quarantined."""
    text = F.col("text")
    if dict(df.dtypes)["text"] != "string":
        return text, F.lit(None).cast("string")
    unencodable = text.rlike(_NON_LATIN1)
    return (F.when(~unencodable, F.encode(text, "ISO-8859-1")),
            F.when(unencodable, text))


def _extract(df: DataFrame, with_markdown: bool,
             use_cache: bool = True) -> DataFrame:
    """``df`` with the UDF applied to its ``text`` column: the payload is
    dropped in the Project directly above the UDF and the PROC_SCHEMA
    fields are flattened, so only derived columns reach any downstream
    shuffle (SURVEY.md §7 "large payload shuffles")."""
    udf = _process_udf("markdown" if with_markdown else "text", use_cache)
    keep = [c for c in df.columns if c != "text"]
    return (df.withColumn("proc", udf(*_payload_args(df)))
            .select(*keep, *[F.col(f"proc.{c}").alias(c) for c in PROC_COLS]))


def with_classification(df: DataFrame) -> DataFrame:
    """Classification only: a PROC_SCHEMA struct column ``cls`` with the
    detection fields set (text/spans/markdown stay NULL), no shuffle."""
    return df.withColumn("cls", _process_udf("classify")(*_payload_args(df)))


def salt_column(num_buckets: int, cols: tuple[str, str] = ("conv_id", "turn_idx")):
    """Explicit skew salt: pmod(xxhash64(conv_id, turn_idx), K). Salting on
    the *turn* key (not just conv_id) spreads mega conversations across
    executors for the per-row extract stage (SURVEY.md §4 skew row)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(num_buckets))


def run_pipeline(df: DataFrame, *, with_markdown: bool = True,
                 salt_buckets: int | None = None,
                 payload_cache: bool = True) -> DataFrame:
    """Full pipeline, fused single-pass plan:

        Scan → [Repartition(salt)] → ArrowEvalPython(process_udf) → Project

    The classify→route→extract decision tree runs INSIDE the kernel
    (one parse per document, src/lib.rs routing semantics); scanned
    rows early-exit within the same batch. This beats a two-branch
    filter+union plan, where Catalyst evaluated the classify UDF up to
    4× per row (once per filter, once per project, per union branch).

    Ordering contract: downstream consumers read under
    Window.partitionBy(conv_id).orderBy(turn_idx) — see ``with_turn_order``.
    """
    if salt_buckets:
        # Explicit skew handling: spread mega-conversations before the
        # expensive per-row stage. Salting by (conv_id, turn_idx) is safe
        # because the stage is per-row; ordering is restored by the
        # window contract downstream.
        df = df.repartition(salt_buckets, salt_column(salt_buckets))
    return _extract(df, with_markdown, payload_cache)


def run_pipeline_dedup(df: DataFrame, *, with_markdown: bool = True) -> DataFrame:
    """Dedup-aware extraction plan: express payload repetition in the
    PLAN instead of (only) the executor-local LRU.

        Scan → partial/final first-agg on sha256(payload):length
                (map-side combine collapses duplicates BEFORE the exchange
                — each scan task emits one row per DISTINCT payload it saw)
             → ArrowEvalPython over DISTINCT payloads only
             → join derived columns back on the content key

    Only distinct documents cross the JVM→Python Arrow boundary, and
    payloads never ride a wide shuffle (the join back carries derived
    columns + a ~70-char key): extraction cost is O(distinct docs) at
    the PLAN level, where Catalyst/AQE can see and size it.
    Content key = sha256 + payload length: chosen-prefix md5 collisions
    are practical and colliding PDF pairs are published, so an md5 key
    would let one crawled document silently adopt another's extraction;
    xxhash64's 64 bits birthday-collide near 10^9-10^10 distinct docs.
    The digest cost is negligible next to the parse it deduplicates.

    The payload column is scanned twice (into the distinct aggregate and
    to key the metadata side): re-scanning zstd parquet beat persisting
    the keyed frame, two-scan 2.11s vs persist 3.16s (BENCH.md r4).

    Skew note: this plan needs NO conversation salting — the expensive
    stage partitions by CONTENT hash, so a mega-conversation contributes
    only its distinct payloads, and one payload dominating the corpus
    collapses to a single distinct row.

    Results are identical to run_pipeline (the kernel is deterministic
    per payload) — asserted in tests/test_spark_pipeline.py."""
    # NULL payloads get a sentinel key: equi-joins drop NULL keys, and
    # the quarantine row for a NULL payload must survive the join back.
    # F.concat (NOT concat_ws) so a NULL payload yields a NULL key and
    # falls through to the sentinel — concat_ws would yield "".
    keyed = df.withColumn(
        "__pk",
        F.coalesce(F.concat(F.sha2(F.col("text"), 256), F.lit(":"),
                            F.length(F.col("text")).cast("string")),
                   F.lit("__null_payload__")))
    distinct = (keyed.groupBy("__pk")
                .agg(F.first("text", ignorenulls=False).alias("text")))
    processed = _extract(distinct, with_markdown)
    out_cols = [c for c in df.columns if c != "text"]
    return (keyed.drop("text")
            .join(processed, "__pk")
            .select(*out_cols, *PROC_COLS))


def with_turn_order(result: DataFrame) -> DataFrame:
    """Stable turn ordering contract (north rule): row_number over
    Window.partitionBy(conv_id).orderBy(turn_idx)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return result.withColumn("turn_rank", F.row_number().over(w))
