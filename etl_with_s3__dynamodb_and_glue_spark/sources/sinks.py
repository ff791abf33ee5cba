"""Sinks: keyed-upsert tables (the reference's DynamoDB role) behind
one interface.

The reference lands each KPI table in DynamoDB with a hash key and
overwrite=true (reference glue_job.py:110-132) — i.e. an idempotent
upsert-by-key. Locally (and as the engine default) the same contract
is a key-partitioned Parquet table with dynamic partition overwrite:
re-processing a day replaces exactly that day's partition, which is
the Parquet-native equivalent of DynamoDB's per-item overwrite, and
gives the serving-side point lookup partition pruning for free
(SURVEY.md §3 entry point 3).

A DynamoDB sink is provided for cluster deployments where boto3 and
credentials exist; it writes from executors via foreachPartition +
BatchWriteItem (never collects to the driver). It is import-gated and
not exercised by local tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class KeyValueSink:
    """Upsert-by-key table writer. ``write`` may be called for
    different tables from several threads at once."""

    def write(self, df: DataFrame, table: str, key: str) -> None:
        raise NotImplementedError


class ParquetKeyValueSink(KeyValueSink):
    """Default sink: Parquet partitioned by the hash-key column.

    ``partitionOverwriteMode=dynamic`` makes the write an upsert at
    partition granularity — only the partitions present in ``df`` are
    replaced, matching the reference's overwrite-by-key behavior when
    a late file re-triggers the pipeline (SURVEY.md §2.8). It is a
    writer option, not a session setting: later overwrites in the same
    session keep Spark's static default, and concurrent writes of
    different tables share no mutable state.
    """

    def __init__(self, base_dir: str):
        self.base_dir = base_dir

    def write(self, df: DataFrame, table: str, key: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(key)
            .parquet(f"{self.base_dir}/{table}")
        )


class DynamoDBSink(KeyValueSink):
    """Executor-side DynamoDB writer (reference glue_job.py:103-132
    re-expressed without Glue's DynamicFrame).

    Each partition opens its own boto3 client and streams items
    through ``Table.batch_writer`` (25-item BatchWriteItem batches,
    automatic retry/backpressure). Partition count bounds write
    parallelism — repartition the DataFrame to respect table WCU.
    """

    def __init__(self, region_name: str | None = None, max_parallelism: int = 32):
        self.region_name = region_name
        self.max_parallelism = max_parallelism

    def write(self, df: DataFrame, table: str, key: str) -> None:
        try:
            import boto3  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env without boto3
            raise NotImplementedError(
                "DynamoDBSink requires boto3 on the executors; use "
                "ParquetKeyValueSink locally"
            ) from exc

        region = self.region_name
        n = min(df.rdd.getNumPartitions(), self.max_parallelism)

        def write_partition(rows):  # pragma: no cover - needs AWS
            from decimal import Decimal

            import boto3

            resource = boto3.resource("dynamodb", region_name=region)
            ddb_table = resource.Table(table)
            with ddb_table.batch_writer(overwrite_by_pkeys=[key]) as writer:
                for row in rows:
                    # boto3's DynamoDB resource rejects Python float —
                    # numbers must be Decimal (str-roundtripped so the
                    # stored value is the literal, not the binary rep).
                    item = {
                        k: Decimal(str(v)) if isinstance(v, float) else v
                        for k, v in row.asDict().items()
                        if v is not None
                    }
                    writer.put_item(Item=item)

        df.coalesce(n).foreachPartition(write_partition)
