"""No conf leaks: building and running a query leaves the session's
conf exactly as it found it.  ``session.get_spark`` is the only code
that sets Spark conf; tests share one session, so a query that set a
key would change every query run after it."""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from archvisier_spark.corpus import corpus_df

SF_DIR = "/root/testdata/sf0.01"


def _snapshot(spark) -> dict:
    return dict(spark.conf.getAll)


def test_multi_table_ops_query_leaves_conf_unchanged(spark):
    from archvisier_spark.ops.tpch import q_nation_revenue

    before = _snapshot(spark)
    q_nation_revenue(spark, SF_DIR).collect()
    assert _snapshot(spark) == before


def test_extract_documents_leaves_conf_unchanged(spark):
    from archvisier_spark.pipeline.extract import extract_documents

    docs = corpus_df(spark, 20, seed=3, partitions=2)
    before = _snapshot(spark)
    extract_documents(docs).collect()
    assert _snapshot(spark) == before


def test_run_resumable_leaves_conf_unchanged(spark, tmp_path):
    from archvisier_spark.pipeline.lineage import run_resumable

    docs = corpus_df(spark, 20, seed=3, partitions=2)
    before = _snapshot(spark)
    run_resumable(spark, docs, str(tmp_path / "out"), str(tmp_path / "ckpt"),
                  n_chunks=4)
    assert _snapshot(spark) == before


def test_arrow_batch_rows_default(spark):
    """With nothing else setting the key, ``get_spark`` applies its own
    Arrow batch size, not Spark's 10,000.  The test session's master and
    the effective value of every key the engine relies on are pinned too,
    whether ``get_spark`` sets the key or Spark's default supplies it."""
    assert spark.sparkContext.master == "local[4]"
    effective = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.useLargeVarTypes": "true",
        "spark.sql.files.openCostInBytes": "16m",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "4g",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.files.minPartitionNum": "4",
    }
    assert {k: spark.conf.get(k) for k in effective} == effective


@pytest.mark.parametrize("submit_args, probe, expected", [
    # heavy rows shrink their Arrow batches this way
    ("--conf spark.sql.execution.arrow.maxRecordsPerBatch=32",
     "spark.conf.get('spark.sql.execution.arrow.maxRecordsPerBatch')", "32"),
    ("--master local[2]", "spark.sparkContext.master", "local[2]"),
    ("--conf spark.sql.shuffle.partitions=7",
     "spark.conf.get('spark.sql.shuffle.partitions')", "7"),
    ("--conf spark.sql.files.openCostInBytes=4m",
     "spark.conf.get('spark.sql.files.openCostInBytes')", "4m"),
    # pinned: the output bytes depend on the zone
    ("--conf spark.sql.session.timeZone=Europe/Warsaw",
     "spark.conf.get('spark.sql.session.timeZone')", "UTC"),
], ids=["arrow_batch_rows", "master", "shuffle_partitions", "open_cost",
        "time_zone_pinned"])
def test_submit_args_win_over_engine_defaults(submit_args, probe, expected):
    """What a launcher sets (``spark-submit --master/--conf``, here through
    ``PYSPARK_SUBMIT_ARGS``) is what a ``get_spark()`` session without a
    master argument runs with; only the pinned time zone stays UTC."""
    env = {
        **os.environ,
        "PYSPARK_SUBMIT_ARGS": f"{submit_args} pyspark-shell",
        "SPARK_DRIVER_MEMORY": "1g",
    }
    code = (
        "from archvisier_spark.session import get_spark\n"
        "spark = get_spark()\n"
        f"print({probe})\n"
        "spark.stop()\n"
    )
    r = subprocess.run([sys.executable, "-c", code], env=env,
                       cwd=Path(__file__).resolve().parent.parent,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split() == [expected], r.stdout[-2000:]
