"""Component stress for star contraction at realistic graph scale
(VERDICT r5 "What's missing" #3): ~10^6 edges — a 250k-node chain (the
diameter worst case for label propagation) plus a 1225-node clique
(~750k edges, the density worst case) — asserting the O(log n) round
bound, label correctness on both components, and a wall-time budget.

The graph is generated distributed (spark.range), never on the driver:
the same construction holds at 10^9+ edges on a cluster.
"""

import math
import time

import pyspark.sql.functions as F
import pytest

from pdf_inspector_spark.operators.dedup import star_components

CHAIN_N = 250_000          # nodes; 249_999 edges, diameter 250k
CLIQUE_N = 1_225           # nodes; 749_700 edges
CLIQUE_BASE = 10_000_000   # id offset so components are disjoint


def test_star_contraction_million_edge_graph(spark):
    chain = spark.range(CHAIN_N - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    a = spark.range(CLIQUE_N).select((F.col("id") + CLIQUE_BASE).alias("u"))
    b = spark.range(CLIQUE_N).select((F.col("id") + CLIQUE_BASE).alias("v"))
    clique = a.crossJoin(b).where(F.col("u") < F.col("v"))
    edges = chain.union(clique)
    n_edges = edges.count()
    assert n_edges == (CHAIN_N - 1) + CLIQUE_N * (CLIQUE_N - 1) // 2
    assert n_edges > 990_000

    nodes = (spark.range(CHAIN_N).select(F.col("id").alias("doc_id"))
             .union(spark.range(CLIQUE_N)
                    .select((F.col("id") + CLIQUE_BASE).alias("doc_id"))))
    n_nodes = CHAIN_N + CLIQUE_N

    t0 = time.monotonic()
    labels, rounds = star_components(edges, nodes, max_rounds=25)
    wrong = labels.where(
        ~((F.col("doc_id") < CLIQUE_BASE) & (F.col("cluster_id") == 0)
          | (F.col("doc_id") >= CLIQUE_BASE)
          & (F.col("cluster_id") == CLIQUE_BASE))).count()
    elapsed = time.monotonic() - t0

    assert wrong == 0
    # empirical round growth (chain 10k -> 15, 100k -> 18 at probe time)
    # tracks ceil(log2 n) + 2; a regression to O(diameter) behavior
    # would blow through this immediately (250k rounds needed).
    assert rounds <= math.ceil(math.log2(n_nodes)) + 2
    # wall budget: generous 6x headroom over the measured ~60s at
    # local[32] so box throttling can't flake it, while a quadratic
    # regression (hours) still fails loudly.
    assert elapsed < 360, f"star contraction took {elapsed:.0f}s"


@pytest.mark.parametrize("persist", ["local", "parquet"])
def test_observed_marker_equals_standalone_aggregate(spark, monkeypatch,
                                                     persist):
    """The r7 end-of-round fuse moved the convergence marker from a
    standalone .agg().collect() job onto the round's materialize action
    as observed metrics (Dataset.observe). Pin the load-bearing
    equivalence: for the same edge set — including the empty one — the
    observed (n, h, h2) tuple must equal the direct aggregate, so
    convergence detection is unchanged. Both persist modes: the action
    that fires the metrics is a localCheckpoint or a parquet write."""
    from pyspark.sql import Observation

    from pdf_inspector_spark.operators import materialize
    monkeypatch.setenv("PDF_INSPECTOR_PERSIST", persist)

    for pred in ("u >= 0", "u < 0"):   # non-empty and empty edge sets
        edges = (spark.range(97)
                 .select(F.col("id").alias("u"),
                         ((F.col("id") * 31) % 17).alias("v"))
                 .where(pred))
        direct = (edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            F.expr("bit_xor(xxhash64(u, v, 8191))").alias("h2"))
            .collect())[0]
        obs = Observation()
        (edges.observe(obs,
                       F.count(F.lit(1)).alias("n"),
                       F.expr("bit_xor(xxhash64(u, v))").alias("h"),
                       F.expr("bit_xor(xxhash64(u, v, 8191))").alias("h2"))
         .transform(materialize))
        got = obs.get
        assert (got["n"], got["h"], got["h2"]) == \
            (direct["n"], direct["h"], direct["h2"])

