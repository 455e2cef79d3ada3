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
