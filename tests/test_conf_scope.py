"""No conf leaks: building and running a query leaves the session's
conf exactly as it found it.  ``session.get_spark`` is the only code
that sets Spark conf; tests share one session, so a query that set a
key would change every query run after it."""

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
    Arrow batch size, not Spark's 10,000."""
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == "512"


def test_submit_conf_arrow_batch_rows_wins():
    """``spark-submit --conf spark.sql.execution.arrow.maxRecordsPerBatch``
    is how a job with heavy rows shrinks its Arrow batches: ``get_spark``
    keeps it instead of writing its own default over it."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    env = {
        **os.environ,
        "PYSPARK_SUBMIT_ARGS": f"--conf {key}=32 pyspark-shell",
        "SPARK_DRIVER_MEMORY": "1g",
    }
    code = (
        "from archvisier_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]')\n"
        f"print(spark.conf.get('{key}'))\n"
        "spark.stop()\n"
    )
    r = subprocess.run([sys.executable, "-c", code], env=env,
                       cwd=Path(__file__).resolve().parent.parent,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.split() == ["32"], r.stdout[-2000:]
