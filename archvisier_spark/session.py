"""The engine's SparkSession: what the caller or the launcher sets wins
(``master``, ``extra_conf``, ``spark-submit --master/--conf``,
``PYSPARK_SUBMIT_ARGS``), and the engine fills the gaps.

With no ``master`` argument Spark resolves the master: spark-submit's
``--master``, then ``PYSPARK_SUBMIT_ARGS``, then ``local[*]``.  Pinned on
the builder, over the launcher: ``spark.sql.session.timeZone=UTC``
(``lp_year`` and ``display_number`` come from ``year(warc_ts)``, so the
output bytes depend on it), and the static ``spark.ui.enabled=false`` and
``spark.driver.memory`` (env ``SPARK_DRIVER_MEMORY``, default 16g), read
only when the JVM starts.  Once the context is up, each key that nothing
has set gets its default (AQE is left at Spark's default, on)::

    spark.sql.shuffle.partitions                   defaultParallelism
    spark.sql.files.minPartitionNum                defaultParallelism
    spark.sql.files.openCostInBytes                16m
    spark.sql.execution.arrow.pyspark.enabled      true
    spark.sql.execution.arrow.useLargeVarTypes     true
    spark.sql.execution.arrow.maxRecordsPerBatch   ARROW_BATCH_ROWS

On a cluster, ``defaultParallelism`` is read once at session start and
can read low before the executors register: set both partition keys
with ``--conf`` there.

This is the only place the engine sets Spark conf; no query changes it
while it is built or run.  Scan splits follow Spark's own planner rule,
evaluated once per scan from the bytes it actually reads::

    split = min(maxPartitionBytes, max(openCostInBytes, totalBytes / minPartitionNum))

with ``minPartitionNum = defaultParallelism`` (one task per core) and
``maxPartitionBytes`` at Spark's default 128 MB as the ceiling, so a big
corpus still fans out by bytes.  The map-only extraction stage inherits
its task width from the splits, and every Python task pays a fixed
worker setup of about 0.2 s of core time before its function runs
(measured on Spark 4.1 local[4]: an identity ``mapInArrow`` over the
same 2,000 rows took 0.31 s in 4 tasks and 0.97 s in 16).  Extra task
waves therefore cost more in setup than they win back in balance on
byte-skewed documents.
``openCostInBytes`` (16 MB) is the floor, and it is also what each file
weighs when small files are packed together: a relational table file
of up to 16 MB plans one split (its useful parallelism is its row
groups, not its bytes, so smaller splits only add empty tasks), while a
corpus of many small files still fans out to roughly minPartitionNum
or more tasks of whole files.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Arrow transfer batch: 512 rows ≈ 1-4 MB for median web docs; a batch
# containing one megabyte-scale PDF stays bounded because such rows are
# ~1-per-hundred (SURVEY.md §4 "maxRecordsPerBatch tuned").  A job whose
# rows are heavier (a raster-OCR run over scanned PDFs) shrinks batches
# with Spark's own key: an explicit setting wins over this default.
ARROW_BATCH_ROWS = 512


def get_spark(
    master: str | None = None,
    app_name: str = "archvisier_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        # pinned over the launcher: the output bytes depend on the zone,
        # and the other two are read only when the JVM starts
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if master:
        builder = builder.master(master)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    cores = spark.sparkContext.defaultParallelism
    for key, default in (
        ("spark.sql.shuffle.partitions", cores),
        ("spark.sql.files.minPartitionNum", cores),
        ("spark.sql.files.openCostInBytes", "16m"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # 64-bit Arrow offsets: one contiguous buffer for megabyte binary
        # payloads instead of 2 GiB-bounded chunked arrays
        ("spark.sql.execution.arrow.useLargeVarTypes", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH_ROWS),
    ):
        if spark.conf.get(key, None) is None:
            spark.conf.set(key, str(default))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType
) -> DataFrame:
    """A DataFrame of driver-side ``rows`` typed by ``schema``.

    It is built from an Arrow table, which Spark plans as a
    ``LocalTableScan``: building it starts no Spark job, and reading it
    starts no Python worker.  ``createDataFrame`` over a Python list
    instead pickles the rows through a ``PythonRDD``, and every plan that
    reads them runs Python workers to unpickle them."""
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    arrays = [pa.array(col, type=f.type) for col, f in zip(columns, arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
