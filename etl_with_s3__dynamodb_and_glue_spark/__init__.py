"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL system (Ann-Vanessa2/ETL-with-S3--DynamoDB-and-Glue,
surveyed in SURVEY.md), re-expressed Spark-first.

Layout
------
- ``session``    : SparkSession factory (AQE on, UTC, tuned shuffle partitions)
- ``schemas``    : explicit StructType registry (never inferSchema at scale)
- ``sources``    : schema-enforced readers, validation gates, sinks, archival
- ``operators``  : cleaning / joins / aggregates / windows / dedup / similarity / text
- ``functions``  : scalar & vector column helpers (all JVM-side where possible)
- ``plans``      : composed query plans (the reference's KPI pipeline + star-schema queries)
- ``streaming``  : Structured Streaming re-expression of the reference's macro-batch loop

Design rules (SURVEY.md §7): zero custom Catalyst; DataFrame API everywhere;
UDFs only where no native function exists (Arrow-batched pandas_udf, never
row-at-a-time); every operator designed for a 1000-executor / 100 TB cluster
even though tests run on local[32].
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
