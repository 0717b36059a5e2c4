"""Batch sinks: partitioned parquet layout for prunable time queries.

The reference's declared query store answers time-interval count
queries (``/root/reference/README.md:45-55``); at 100 TB that query is
only viable if the storage layout lets the scan skip irrelevant data.
``write_partitioned_by_day`` lays tables out hive-style
(``event_date=YYYY-MM-DD/``) so a ``ts BETWEEN`` predicate becomes a
*partition* filter — directories that never reach the scanner — rather
than a row filter. tests/test_sinks.py pins the pruned plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_partitioned_by_day(df: DataFrame, path: str,
                             ts_col: str = "ts") -> None:
    """Write hive-partitioned parquet keyed by the event date. The
    partition column is derived (not dropped from the data: parquet
    readers reconstruct it from the directory), and files within a
    partition stay sorted by ``ts_col`` for row-group min/max skipping."""
    (df.withColumn("event_date", F.date_format(ts_col, "yyyy-MM-dd"))
       .repartition("event_date")
       .sortWithinPartitions(ts_col)
       .write.partitionBy("event_date").mode("overwrite").parquet(path))


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files have EVOLVED schemas (columns
    added over time), unioning columns by name with NULLs for files that
    predate a column — ``mergeSchema``, off by default in Spark because
    footer-merging costs a pass over every file's metadata; a real
    deployment pays it only on evolved tables."""
    return spark.read.option("mergeSchema", "true").parquet(path)
