"""Output checks, run outside every timed window.

Extraction output is compared turn by turn with the kernel fixtures
(``tests/fixtures/corpus_expected.json``); query output is compared with
the operator's frozen DuckDB oracle SQL under the row-count and value rule
of ``tools/crosscheck.py``.
"""

from __future__ import annotations

import importlib.util
import os
from collections import defaultdict

from pdf_inspector_spark.fixtures import load_fixtures
from pdf_inspector_spark.kernels.pipeline import process_pdf_mem
from pdf_inspector_spark.lineage import read_quarantine, read_turns

from .inputs import pool_doc_ids, with_nonce

# fixture field -> output column compared per landed turn
_TURN_FIELDS = {"pdf_type": "pdf_type", "text": "text_out",
                "markdown": "markdown", "error_kind": "error_kind"}
_KERNEL_FIELDS = ("pdf_type", "page_count", "ocr_recommended", "title",
                  "text", "spans", "markdown", "error_kind")


def guard_nonce(seed: int) -> None:
    """Every pool document, with a nonce appended, must give the kernel
    output recorded in its fixture (``processing_time_ms`` aside): else
    the distinct workload would measure different documents."""
    from pdf_inspector_spark.corpus import corpus_payloads
    fixtures, payloads = load_fixtures(), corpus_payloads()
    for doc_id in pool_doc_ids():
        r = process_pdf_mem(with_nonce(payloads[doc_id], f"guard-{seed}"),
                            use_cache=False)
        e = fixtures[doc_id]
        bad = [k for k in _KERNEL_FIELDS if r[k] != e[k]]
        if round(r["confidence"], 6) != e["confidence"]:
            bad.append("confidence")
        if bad:
            raise RuntimeError(f"nonce changes kernel output of {doc_id}: {bad}")


def check_turns(spark, out_dirs: list[str],
                truth: dict[tuple[str, int], str]) -> int:
    """Failed turns over several deploy-path outputs of the same input:
    in each, every input turn must land exactly once (good rows or
    quarantine) with its fixture's values. All outputs are read in one
    Spark job."""
    import pyspark.sql.functions as F
    fixtures = load_fixtures()
    cols = ["conv_id", "turn_idx", *_TURN_FIELDS.values()]
    parts = [reader(spark, out).select(F.lit(i).alias("out"), *cols)
             for i, out in enumerate(out_dirs)
             for reader in (read_turns, read_quarantine)]
    landed = parts[0]
    for part in parts[1:]:
        landed = landed.unionByName(part)
    by_key: dict[tuple, list[dict]] = defaultdict(list)
    for row in landed.toArrow().to_pylist():
        by_key[(row["out"], row["conv_id"], row["turn_idx"])].append(row)
    failed = 0
    for i in range(len(out_dirs)):
        extra = sum(1 for o, c, t in by_key if o == i and (c, t) not in truth)
        bad = extra
        for (conv_id, turn_idx), doc_id in truth.items():
            rows = by_key.get((i, conv_id, turn_idx), [])
            e = fixtures[doc_id]
            if len(rows) != 1 or any(rows[0][c] != e[f]
                                     for f, c in _TURN_FIELDS.items()):
                bad += 1
        failed += min(bad, len(truth))
    return failed


def _crosscheck_rule():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "crosscheck.py")
    spec = importlib.util.spec_from_file_location("_crosscheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_queries(results: dict[str, tuple[list[str], list[tuple]]],
                  sf_dir: str) -> list[str]:
    """Names of queries whose Spark result (columns, rows) differs from
    the DuckDB oracle over the same tables."""
    import duckdb

    from pdf_inspector_spark.operators import all_operators

    rule = _crosscheck_rule()
    ops = all_operators()
    con = duckdb.connect()
    try:
        for t in rule.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        failed = []
        for name, (scols, srows) in results.items():
            res = con.execute(ops[name].oracle)
            dcols = [d[0] for d in res.description]
            drows = [tuple(rule.norm(v) for v in row) for row in res.fetchall()]
            srows = [tuple(rule.norm(v) for v in row) for row in srows]
            if (scols != dcols or len(srows) != len(drows)
                    or sorted(map(str, srows)) != sorted(map(str, drows))):
                failed.append(name)
        return failed
    finally:
        con.close()
