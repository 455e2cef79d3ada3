"""Reader for the driver's relational tables.

Split sizing is the session's one planner rule (``archvisier_spark.
session``), applied per scan: a table file of up to 16 MB plans one
split, so a scan schedules no empty tasks for a file whose parallelism
is its row groups.  The reader sets no conf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet``."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
