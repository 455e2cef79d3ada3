"""Scale-pattern evidence: bucketed co-located joins, native-vs-kernel
regex parity, AQE skew-join handling."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the exchange —
    the co-located-join strategy for repeated big-table joins at 100 TB.
    (saveAsTable needs a warehouse; use a session-local db under tmp.)"""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/wh'")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("bucketdb.orders_b"))
    (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("bucketdb.lineitem_b"))

    ob = spark.table("bucketdb.orders_b")
    lb = spark.table("bucketdb.lineitem_b")
    joined = lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, "bucketed join must not shuffle"
    # and it returns the same rows as the plain join
    plain = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).count()
    assert joined.count() == plain


def test_x2_native_cascade_matches_kernel(spark):
    """The JVM-native X2 variant must agree with the Python-re kernel on
    every row it processes (the SURVEY §7 differential-proof obligation
    for moving a cascade stage off the pandas-UDF path)."""
    from archvisier_spark.kernel.smart import extract_date
    from archvisier_spark.ops.textops import q_date_cascade_native

    rows = q_date_cascade_native(spark, SF_DIR).collect()
    assert rows
    orders = {r["o_orderkey"]: r for r in rows}
    odf = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(F.col("o_orderkey") < 800)
    for o in odf.collect():
        d = o["o_orderdate"]
        text = f"Zamówienie nr {o['o_orderkey']} z dnia {d.day}.{d.month}.{d.year} roku"
        assert orders[o["o_orderkey"]]["extracted_date"] == extract_date(text), text
    # every synthesised date round-trips
    assert all(r["matches"] == 1 for r in rows)


def test_aqe_skew_join_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

