"""hquery_php_spark — a PySpark-native HTML extraction engine.

A from-scratch reimplementation of the capabilities of duzun/hQuery.php
(reference at /root/reference, studied for behavior only): fault-tolerant
byte-offset HTML indexing, a CSS-selector subset compiled to positional
range lookups, and ordered (kind, text, media_ref, offset) span extraction
— designed to run over Iceberg/Parquet tables of interleaved text+media
documents on a multi-executor Spark cluster.

Layout:
  core/       per-document engine (tokenizer, index, selectors, spans)
  batch.py    map_rows: the one Arrow-batch loop behind per-row operators
  operators/  Spark operators (extraction pipeline, dedup, similarity, skew)
  sources/    table readers + deterministic corpus synthesis
  functions/  pyspark column-function library (text stats, lang-id, URLs)
  plans/      selector→plan compilation helpers, explain utilities
"""

__version__ = "0.1.0"

from . import _workerinit  # noqa: F401  (guards zipimport in Spark workers)
from .core import HDoc, HElement, Span, extract_spans  # noqa: F401
