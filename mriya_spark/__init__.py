"""mriya_spark — a PySpark-native analytics/ETL engine.

A ground-up re-expression of the capabilities of the reference
``racker/mriya`` (a Salesforce->Salesforce migration CLI; see SURVEY.md)
as an idiomatic Apache Spark engine:

- mapping-driven extract -> transform -> load with key backfill
  (``mriya_spark.mapping``),
- the full relational surface (scans, projections, filters, joins,
  aggregates, windows, set ops, limits) as composable DataFrame ops
  (``mriya_spark.ops``),
- merge/upsert/delete sink semantics on plain parquet
  (``mriya_spark.sinks``),
- schema-driven synthetic data generation (``mriya_spark.generator``),
- Structured Streaming restatement of the incremental-extract /
  bulk-load loop (``mriya_spark.streaming``),
- large-scale training-data-pipeline operators: dedup (exact, MinHash
  LSH, SimHash, n-gram Jaccard, embedding cosine), similarity search,
  text analysis, multimodal column plumbing (``mriya_spark.ops.text``,
  ``.dedup``, ``.vector``, ``.multimodal``).

Everything is lazy DataFrames end-to-end; no ``collect()`` in the data
plane. Designed for a 1000-executor cluster, tested on local[*].
"""

__version__ = "0.1.0"

import mriya_spark._zipcache  # noqa: F401  (first: Python workers import this package)
from mriya_spark.session import get_spark  # noqa: F401
from mriya_spark.catalog import Catalog  # noqa: F401
