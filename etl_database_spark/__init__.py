"""etl_database_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference ETL system (xnlou/etl-database, surveyed
in SURVEY.md) as an idiomatic Apache Spark engine:

- **Relational layer**: every join / aggregation / set-op / window /
  scalar-function shape in the reference's SQL surface, expressed with
  the DataFrame API so Catalyst handles pushdown, pruning, join
  strategy and AQE (SURVEY.md section 2).
- **Ingestion layer**: config-driven generic import with column
  normalization, schema evolution, width profiling / truncation, and
  dated-snapshot dataset versioning (reference
  systemscripts/generic_import.py) re-built on Spark readers and a
  versioned Parquet write path.
- **Calendar layer**: business-day calendar with holiday handling and
  as-of previous-business-day lookups (reference
  onboarding/sql/dataset_setup.sql:430-513) as pure DataFrame ops.
- **Scale extensions**: deduplication (exact, MinHash-LSH, SimHash,
  n-gram Jaccard), embedding similarity search and text analysis,
  designed partition-parallel for very large (100 TB-class) inputs.

Storage is Parquet partitioned by snapshot date; the catalog is the
Spark session catalog (temp views); configuration is plain DataFrames
mirroring the reference's dba.t*config tables.
"""

__version__ = "0.1.0"

from etl_database_spark.session import get_spark  # noqa: F401
