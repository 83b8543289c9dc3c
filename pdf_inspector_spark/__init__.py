"""pdf_inspector_spark — a PySpark-native inspect→classify→extract engine.

A from-scratch reimplementation of the capabilities of the reference
document-analytics library firecrawl/pdf-inspector (Rust, /root/reference)
as an idiomatic Spark pipeline over Iceberg-shaped transcript tables:

- per-document logic lives in pure-Python kernels (``kernels/``), executed
  as vectorized Arrow-batched pandas UDF stages — never per-row Python UDFs;
- driver-side dataflow (routing, partitioning, skew salting, ordering,
  checkpoint/lineage) is expressed with the DataFrame API so Catalyst can
  optimize it.

Nothing in this package is copied from the reference; the kernels are
re-derived from its observable behavior (file:line citations in docstrings).
"""

from .worker_init import install_stat_checked_invalidation

__version__ = "0.1.0"

# every executor Python worker imports the package to unpickle a package
# UDF, so the wrapper is installed in the workers too
install_stat_checked_invalidation()
