"""Declared query registry: SURVEY.md §2 query ids -> (Spark fn, oracle SQL).

Each entry pairs a PySpark implementation with its ANSI-SQL twin that
DuckDB runs over the same parquet tables (driver contract,
``__spark_entry__.py``). Hash-safety rules observed throughout:

- every computed column is aliased identically on both sides;
- double aggregates are ``round(x, 4)`` on both sides (different
  summation orders legitimately differ in the last ulp);
- DuckDB integer SUMs are cast to BIGINT (DuckDB widens to HUGEINT,
  Spark keeps LongType);
- anything nondeterministic (limit without order, random generation,
  LSH bucketing) is either made deterministic (sort first, fixed
  seeds) or registered without an oracle (rows-only check).
"""

from __future__ import annotations

# the registry header lives in the acyclic mriya_spark.qregistry
# module; REGISTRY is that one object
from mriya_spark.qregistry import (  # noqa: F401
    Query,
    REGISTRY,
    oracle_sql,
    queries,
    register,
)

# Registered query families, one chunk module each under qchunks/;
# importing a chunk registers its queries, so import order IS
# registration order (REGISTRY order = SURVEY §2 order). Helpers are
# imported from their chunk module, not from here.
import mriya_spark.qchunks.c00_2_1_scans  # noqa: F401,E402
import mriya_spark.qchunks.c01_north_star_similarity_search_ops_vector  # noqa: F401,E402
import mriya_spark.qchunks.c02_unicode_pretokenization_r12_judge_direct  # noqa: F401,E402
import mriya_spark.qchunks.c03_r6_additions_training_data_pipeline_ops_  # noqa: F401,E402
import mriya_spark.qchunks.c04_2_10_r16_masked_sft_shard_capstone_three  # noqa: F401,E402
import mriya_spark.qchunks.c05_r17_additions_packed_shard_delivery_epoc  # noqa: F401,E402
import mriya_spark.qchunks.c06_r19_semantic_dedup_epoch_resume_stream  # noqa: F401,E402

# the flagship migration pipeline, called as queries.run_migration by
# __spark_entry__.entry
from mriya_spark.qchunks.c00_2_1_scans import run_migration  # noqa: F401,E402
