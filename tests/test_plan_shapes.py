"""Physical-plan regression tests — the 100 TB shape guarantees.

Correctness tests prove the values; these prove the PLANS stay the ones
that survive a 1000-executor cluster: map-only extraction (payload never
shuffles), column-pruned scans, broadcast dimension joins, partial
aggregation, and no accidental cartesian products anywhere in the
operator inventory.
"""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_is_map_only_and_pruned(spark, tmp_path):
    from archvisier_spark.corpus import corpus_df
    from archvisier_spark.pipeline.extract import extract_documents

    path = str(tmp_path / "corpus")
    corpus_df(spark, 50, seed=2, partitions=2).write.mode("overwrite").parquet(path)
    plan = plan_of(extract_documents(spark.read.parquet(path)))
    assert "Exchange" not in plan, "extraction must not shuffle the payload"
    assert "MapInArrow" in plan and "MapInPandas" not in plan
    # ground-truth text column pruned from the scan
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema.split("ReadSchema")[1]
    assert "html" in read_schema


def test_multi_file_corpus_plans_one_split_per_core(spark, tmp_path):
    """Sixteen small corpus files under the session's planner rule
    (minPartitionNum = cores = 4 on local[4], openCostInBytes as each
    file's weight): one scan task per core, each reading whole files,
    fed straight into the map-only extraction stage."""
    from archvisier_spark.corpus import corpus_df
    from archvisier_spark.pipeline.extract import extract_documents

    path = str(tmp_path / "corpus")
    corpus_df(spark, 400, seed=2, partitions=16).write.parquet(path)
    n_files = len(list((tmp_path / "corpus").glob("*.parquet")))
    assert n_files == 16
    cores = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.files.minPartitionNum")) == cores
    out = extract_documents(spark.read.parquet(path))
    assert "Exchange" not in plan_of(out)
    assert out.rdd.getNumPartitions() == cores < n_files
    # whole files: every file's rows come out of one scan task
    tasks_per_file = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("file"), F.spark_partition_id().alias("task"))
        .distinct()
        .groupBy("file")
        .count()
        .collect()
    )
    assert len(tasks_per_file) == n_files
    assert {r["count"] for r in tasks_per_file} == {1}


@pytest.mark.parametrize("table", ["region", "nation", "customer", "supplier", "part",
                                   "orders", "lineitem", "events", "documents",
                                   "embeddings"])
def test_ops_table_scan_plans_one_split(spark, table):
    """Every sf0.01 table is one file with one row group: more than one
    split would only schedule empty tasks."""
    from archvisier_spark.ops.io_util import read_table

    assert read_table(spark, "/root/testdata/sf0.01", table).rdd.getNumPartitions() == 1


_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def python_stages(plan: str) -> list[str]:
    """The Python operators of a plan string, last stage first."""
    return [
        node
        for line in plan.splitlines()
        for node in _PYTHON_NODES
        if line.lstrip(" +-:~").startswith(node)
    ]


def test_stream_extract_runs_the_arrow_stage(spark, tmp_path):
    from archvisier_spark.corpus import corpus_df
    from archvisier_spark.streaming.stream_extract import stream_extract

    path = str(tmp_path / "corpus")
    corpus_df(spark, 10, seed=2, partitions=1).write.parquet(path)
    plan = stream_extract(spark, path)._jdf.queryExecution().logical().toString()
    assert python_stages(plan) == ["MapInArrow"], plan


@pytest.mark.parametrize("name", ["entry", "cascade_metadata"])
def test_text_in_cascade_runs_the_arrow_stage(spark, name):
    """The flagship and cascade_metadata run the cascade in the extraction
    pipeline's metadata stage: one MapInArrow, no pandas twin.  The
    flagship's naming UDF is its only other Python node."""
    import __spark_entry__ as entry_mod
    from archvisier_spark.ops.cascade_ops import q_cascade_metadata

    df = entry_mod.entry(spark) if name == "entry" else q_cascade_metadata(spark, SF_DIR)
    plan = "\n".join(l for l in plan_of(df).splitlines() if "name_udf" not in l)
    assert python_stages(plan) == ["MapInArrow"], plan


def test_pricing_summary_partial_aggregation(spark):
    from archvisier_spark.ops.tpch import q_pricing_summary

    plan = plan_of(q_pricing_summary(spark, SF_DIR))
    # two-phase hash aggregate: partial (map-side combine) + final
    # (codegen spans only appear in the post-AQE final plan, so assert the
    # aggregate mode markers instead)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan


def test_dimension_joins_are_broadcast(spark):
    from archvisier_spark.ops.tpch import q_nation_revenue

    plan = plan_of(q_nation_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_hash_hint_carries_nation_revenue(spark):
    """The lineitem ⋈ orders shuffled-hash join comes from the query's own
    hint, not from session-wide join settings."""
    from archvisier_spark.ops.tpch import q_nation_revenue

    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "true"
    df = q_nation_revenue(spark, "/root/testdata/sf0.01")
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    assert "ShuffledHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 100
    ).select("doc_id", "lang")
    plan = plan_of(docs)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "x9_dictionary_correction",
                                  "sim_ann_lsh_topk", "tpch_top_revenue_orders"])
def test_no_cartesian_products_in_heavy_queries(spark, name):
    """The bucketed/banded joins must plan as equi-joins — a regression to
    CartesianProduct is the O(n²) cliff at scale.  (Deliberate broadcast
    cross joins — 5-query similarity scans — plan as
    BroadcastNestedLoopJoin, which is fine and excluded here.)"""
    from archvisier_spark.ops import all_queries
    from archvisier_spark.ops.tpch import RETIRED_QUERIES

    qmap = {**all_queries(), **RETIRED_QUERIES}
    plan = plan_of(qmap[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, name


def test_numbering_joins_pruned_keys_not_payload(spark, tmp_path):
    """with_new_names' counting pre-pass must scan ONLY the key column
    when keys_df is given (the pruned-column trick)."""
    from archvisier_spark.corpus import corpus_df
    from archvisier_spark.pipeline.extract import extract_documents, with_new_names

    path = str(tmp_path / "c2")
    corpus_df(spark, 40, seed=4, partitions=2).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    named = with_new_names(extract_documents(docs), keys_df=docs)
    plan = plan_of(named)
    # the numbering slice is the pinned key checkpoint — it carries ONLY
    # (url, work_mode), never the payload columns
    assert "Scan ExistingRDD[url" in plan
    assert "html" not in plan.split("Scan ExistingRDD[url", 1)[1].split("]", 1)[0]
    # the offsets table is a driver-local relation, not an RDD of pickled
    # rows: the pinned key slice is the plan's only RDD scan
    assert "LocalTableScan [__o_work_mode" in plan
    assert plan.count("Scan ExistingRDD") == 1
    # exactly one parquet scan feeds the payload (extraction runs once)
    assert plan.count("FileScan parquet") == 1


def test_finalize_numbers_from_one_key_slice(spark, tmp_path):
    """finalize_names numbers lp and lp_year from ONE pinned key slice
    re-attached to ONE payload scan — not one slice and scan each."""
    from archvisier_spark.corpus import corpus_df
    from archvisier_spark.pipeline.extract import extract_documents
    from archvisier_spark.pipeline.lineage import finalize_names

    path = str(tmp_path / "out")
    extract_documents(corpus_df(spark, 40, seed=4, partitions=2)).write.parquet(path)
    plan = plan_of(finalize_names(spark, path))
    assert plan.count("Scan ExistingRDD[url") == 1
    assert plan.count("Scan ExistingRDD") == 1
    # one offsets table for both sequences, built on the driver
    bare = re.sub(r"#\d+L?", "", plan)  # attribute ids
    assert bare.count("LocalTableScan [__o_work_mode, __o___year, __o_pid, "
                      "__off_lp, __off_lp_year]") == 1
    assert plan.count("FileScan parquet") == 1
