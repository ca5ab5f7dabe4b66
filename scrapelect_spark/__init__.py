"""scrapelect-spark: a PySpark-native crawl + extraction engine.

A from-scratch reimplementation of the capabilities of
``suaviloquence/scrapelect`` (reference at /root/reference, Rust) on an
idiomatic Spark architecture:

- the ``.scrp`` CSS-inspired extraction DSL is compiled **once on the
  driver** (``plans/``) and applied partition-parallel via Arrow
  ``mapInPandas`` UDFs (``operators/extract.py``);
- a distributed URL frontier with partitioned bloom URL-seen
  filters, per-host politeness and deterministic crawl-order lineage
  lives in ``streaming/`` over snapshot-checkpointed tables
  (``sources/checkpoint.py``, an Iceberg-shaped commit log);
- corpus-scale training-data ops (dedup, similarity search, text
  analysis, multimodal plumbing) live in ``operators/``.
"""

__version__ = "0.1.0"
