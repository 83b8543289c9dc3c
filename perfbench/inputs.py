"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed, so one seed always
yields the same tables. Inputs land under the benchmark's own work
directory; the program under test receives only the tables, while the
ground truth for the output check (each turn's corpus ``doc_id``) stays in a
sidecar file next to them.

Transcripts follow the recipe of ``pdf_inspector_spark.transcripts``: the
same 100-slot payload pool, 1% "mega" conversations owning about 30% of the
turns, and 768 rows per parquet file (one scan split per file). The seed
enters every hash, so different seeds shuffle payloads, roles and
conversation lengths, while the number of turns stays fixed.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_inspector_spark import transcripts
from pdf_inspector_spark.corpus import corpus_payloads

_ROLES = ("user", "assistant", "tool")
_TOOLS = ("pdf_reader", "search", "calculator", "browser")


def _h(seed: int, conv_id: str, turn_idx: int) -> int:
    d = hashlib.md5(f"{seed}:{conv_id}:{turn_idx}".encode()).digest()
    return int.from_bytes(d[:8], "big")


def pool_doc_ids() -> list[str]:
    """The distinct corpus documents the 100-slot pool draws from."""
    return sorted(set(transcripts._POOL))


def with_nonce(payload: bytes, nonce: str) -> bytes:
    """A byte-distinct copy of a payload: a PDF comment line after
    ``%%EOF``, which no reader interprets."""
    return payload + f"\n% nonce {nonce}\n".encode()


# Conversation shape of the t-med scale: mega conversations have 600
# turns, the others 1 to 27.
_, MEGA_TURNS, NORMAL_MOD = transcripts.SCALES["t-med"]
MEGA_SHARE = 0.3


def table_turns(n_turns: int, seed: int):
    """Yield (conv_index, conv_id, turn_idx, doc_id, mega) in table order.

    The table has exactly ``n_turns`` turns whatever the seed, so a
    throughput figure does not move with the seed's table size. Mega
    conversations come first and own about 30% of the turns, which makes
    them about 1% of the conversations; the last conversation is cut
    where the count is reached."""
    n_mega = max(round(MEGA_SHARE * n_turns / MEGA_TURNS), 1)
    ci = emitted = 0
    while emitted < n_turns:
        conv_id = f"conv-{ci:06d}"
        mega = ci < n_mega
        n = MEGA_TURNS if mega else 1 + _h(seed, conv_id, -1) % NORMAL_MOD
        for t in range(min(n, n_turns - emitted)):
            yield ci, conv_id, t, transcripts._POOL[_h(seed, conv_id, t) % 100], mega
        emitted += min(n, n_turns - emitted)
        ci += 1


def write_transcripts(path: str, n_turns: int, seed: int,
                      nonce: str | None = None) -> dict:
    """Write the table under ``path/input`` and its doc_id sidecar under
    ``path/truth.parquet``. With ``nonce`` every payload is made
    byte-distinct. Returns the table's sizes."""
    payloads = corpus_payloads()
    table_dir = os.path.join(path, "input")
    os.makedirs(table_dir, exist_ok=True)
    base = datetime(2024, 1, 1)
    cols: dict[str, list] = {f.name: [] for f in transcripts.SCHEMA}
    truth: dict[str, list] = {"conv_id": [], "turn_idx": [], "doc_id": []}
    part = 0

    def flush() -> None:
        nonlocal part, cols
        if cols["conv_id"]:
            pq.write_table(pa.Table.from_pydict(cols, schema=transcripts.SCHEMA),
                           os.path.join(table_dir, f"part-{part:05d}.parquet"),
                           row_group_size=4096, compression="zstd")
            part += 1
            cols = {f.name: [] for f in transcripts.SCHEMA}

    n_mega_turns = 0
    for ci, conv_id, t, doc_id, mega in table_turns(n_turns, seed):
        h = _h(seed, conv_id, t)
        role = _ROLES[h % 3]
        buf = payloads[doc_id]
        if nonce is not None:
            buf = with_nonce(buf, f"{nonce}-{conv_id}-{t}")
        cols["conv_id"].append(conv_id)
        cols["turn_idx"].append(t)
        cols["role"].append(role)
        cols["text"].append(buf.decode("latin-1"))
        cols["tool"].append(_TOOLS[h % 4] if role == "tool" else None)
        cols["ts"].append(base + timedelta(seconds=ci * 3600 + t * 60))
        truth["conv_id"].append(conv_id)
        truth["turn_idx"].append(t)
        truth["doc_id"].append(doc_id)
        n_mega_turns += mega
        if len(cols["conv_id"]) >= transcripts.ROWS_PER_FILE:
            flush()
    flush()
    pq.write_table(pa.Table.from_pydict(truth), os.path.join(path, "truth.parquet"))
    n = len(truth["doc_id"])
    distinct = n if nonce is not None else len(set(truth["doc_id"]))
    return {"turns": n, "files": part, "distinct_payloads": distinct,
            "mega_share": n_mega_turns / n}


def read_truth(path: str) -> dict[tuple[str, int], str]:
    t = pq.read_table(os.path.join(path, "truth.parquet")).to_pydict()
    return dict(zip(zip(t["conv_id"], t["turn_idx"]), t["doc_id"]))


def sample_payloads(path: str, n: int) -> list[bytes]:
    """The first ``n`` payloads of a generated table, as bytes."""
    out: list[bytes] = []
    table_dir = os.path.join(path, "input")
    for name in sorted(os.listdir(table_dir)):
        texts = pq.read_table(os.path.join(table_dir, name), columns=["text"])
        out += [s.encode("latin-1") for s in texts.column("text").to_pylist()]
        if len(out) >= n:
            break
    return out[:n]


# --------------------------------------------------------------------------
# Analytics tables: the star schema, events, documents and embeddings that
# the registered operators read, at about a hundredth of TPC-H scale 1.
# --------------------------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng: np.random.Generator, n: int, start: str, span_days: int):
    d0 = np.datetime64(start, "us")
    return d0 + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_analytics_tables(sf_dir: str, seed: int) -> dict:
    """Write the ten operator tables as ``sf_dir/<name>.parquet``, with
    60k lineitem rows. Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_ev = 15000, 60000, 10000
    n_doc, n_vec = 500, 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(_REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                rng.choice(["small", "red", "blue", "large"], n_part),
                rng.choice(["ring", "widget", "bolt", "gear"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}),
        "events": _events(rng, n_ev),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.exponential(260.0, n)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents; about 5% are exact copies of an earlier
    document and 5% are near copies (one word swapped), so the exact and
    near-duplicate operators all have work."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and roll < 0.10:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, rng.integers(10, 90))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n,
                           p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors in ten labelled clusters; every 25th vector is a near
    copy (cosine > 0.95) of its predecessor, so the near-duplicate join
    returns pairs."""
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] * 0.3 + rng.normal(size=(n, dim))
    for i in range(1, n, 25):
        vecs[i] = vecs[i - 1] + rng.normal(scale=0.05, size=dim)
        labels[i] = labels[i - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
