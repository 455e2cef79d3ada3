"""Year-scoped counter keys + per-mode display patterns (A2 session tier).

Reference semantics: session counters keyed ``"{work_mode}/{year}"`` with
SA mode in a SEPARATE dict (gui/pdf_processor_app.py:590-616), rendered
with the TYPE_PATTERNS literals ``KP/{num}/{year}`` / ``KW/{num}/{year}``
/ ``SA{num}_{year}`` (gui/constants.py:9-13).  The Spark form (the
two-phase numbering partitioned by mode and year, rendered by
pipeline.extract.display_number_col, as lineage.finalize_names runs it:
the ``display_numbers`` fixture)
is differential-tested against the sequential counter loop here; per-row
SQL parity of the underlying two-phase numbering is oracle-checked by the
a2_counter_display query.
"""

from archvisier_spark.kernel.naming import (
    TYPE_PATTERNS,
    counter_key,
    display_number,
    next_display_number,
)


def test_display_patterns_golden():
    # gui/constants.py:9-13 literals
    assert TYPE_PATTERNS == {
        "KP": "KP/{num}/{year}",
        "KW": "KW/{num}/{year}",
        "SA": "SA{num}_{year}",
    }
    assert display_number("KP", 5, 2025) == "KP/5/2025"
    assert display_number("KW", 12, 2024) == "KW/12/2024"
    assert display_number("SA", 5, 2025) == "SA5_2025"


def test_counter_key_literal():
    assert counter_key("KP", 2025) == "KP/2025"


def test_sequential_counters_sa_separate():
    counters: dict = {}
    sa: dict = {}
    assert next_display_number("KP", 2025, counters, sa) == "KP/1/2025"
    assert next_display_number("KP", 2025, counters, sa) == "KP/2/2025"
    assert next_display_number("KP", 2024, counters, sa) == "KP/1/2024"  # per-year restart
    assert next_display_number("SA", 2025, counters, sa) == "SA1_2025"   # separate dict
    assert next_display_number("KP", 2025, counters, sa) == "KP/3/2025"
    assert counters == {"KP/2025": 3, "KP/2024": 1}
    assert sa == {"SA/2025": 1}


def test_spark_display_numbers_match_sequential_loop(spark, display_numbers):
    from archvisier_spark.corpus import corpus_df, generate_rows

    n = 50
    docs = corpus_df(spark, n, seed=11, skew_every=10, skew_factor=5, partitions=4)

    for mode in ("KP", "SA"):
        got = {
            r["url"]: (r["lp_year"], r["display_number"])
            for r in display_numbers(docs.select("url", "warc_ts"), mode).collect()
        }
        counters: dict = {}
        sa: dict = {}
        rows = sorted(generate_rows(n, seed=11, skew_every=10, skew_factor=5),
                      key=lambda r: r["url"])
        for row in rows:
            year = row["warc_ts"].year
            disp = next_display_number(mode, year, counters, sa)
            bucket = sa if mode == "SA" else counters
            lp = bucket[counter_key(mode, year)]
            assert got[row["url"]] == (lp, disp), row["url"]


def test_with_sequence_matches_plain_window_at_sampling_scale(spark):
    """Regression: RangePartitioning samples split points per execution, so
    with_sequence must pin ONE materialisation of its key slice — without
    that, the offsets job and the re-attach join can disagree and lp values
    silently gap/duplicate (caught at 2000 rows; invisible at 60)."""
    from pyspark.sql import Window, functions as F

    from archvisier_spark.pipeline.numbering import with_sequence

    df = spark.range(5000).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("key"),
        (F.col("id") % 7).alias("grp"),
    )
    got = with_sequence(df, order_col="key", partition_cols=("grp",), out_col="lp")
    w = Window.partitionBy("grp").orderBy("key")
    want = df.withColumn("lp", F.row_number().over(w).cast("long"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_with_sequence_empty_input_gets_null_lp(spark):
    """An empty frame has no counts to prefix-sum: it comes back empty with
    a typed (bigint) lp column instead of failing on the offsets table."""
    from pyspark.sql import functions as F

    from archvisier_spark.pipeline.numbering import with_sequence

    df = spark.range(0, 400, 1, 4).select(
        F.format_string("https://ex.org/doc%08d", F.col("id")).alias("url")
    ).filter(F.lit(False))
    out = with_sequence(df, "url")
    assert out.count() == 0
    assert dict(out.dtypes)["lp"] == "bigint"


def test_keys_df_prepass_equivalent(spark, display_numbers):
    """keys_df (pruned-column pre-pass) must yield identical numbering."""
    from archvisier_spark.corpus import corpus_df

    docs = corpus_df(spark, 30, seed=3, skew_every=9, skew_factor=4, partitions=3)
    plain = display_numbers(docs.select("url", "warc_ts"), "KW")
    via_keys = display_numbers(docs.select("url", "warc_ts"), "KW", keys_df=docs)
    a = {r["url"]: r["display_number"] for r in plain.collect()}
    b = {r["url"]: r["display_number"] for r in via_keys.collect()}
    assert a == b


def test_with_sequence_refuses_null_order_keys(spark):
    """A null order key has no place in the sequence; the re-attach join
    would silently drop its row, so numbering raises instead, naming the
    column and the null count."""
    import pytest
    from pyspark.sql import functions as F

    from archvisier_spark.pipeline.numbering import with_sequence

    df = spark.range(0, 20, 1, 2).select(
        F.when(F.col("id") % 10 == 3, F.lit(None))
        .otherwise(F.format_string("https://ex.org/doc%04d", F.col("id")))
        .alias("url")
    )
    with pytest.raises(ValueError, match=r"'url' has 2 null"):
        with_sequence(df, "url")
