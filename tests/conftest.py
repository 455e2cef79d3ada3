import pytest


@pytest.fixture(scope="session")
def spark():
    from archvisier_spark.session import get_spark

    spark = get_spark(master="local[4]",
                      extra_conf={"spark.sql.shuffle.partitions": "8",
                                  "spark.driver.memory": "4g"})
    yield spark
    spark.stop()


def _display_numbers(df, work_mode, keys_df=None):
    """``lp_year`` and ``display_number`` over ``df``'s (url, warc_ts)
    the way ``finalize_names`` builds them: one sequence per (mode, year)
    group, rendered by ``display_number_col``."""
    from pyspark.sql import functions as F

    from archvisier_spark.pipeline.extract import display_number_col
    from archvisier_spark.pipeline.numbering import with_sequences

    def keyed(frame):
        return (frame.withColumn("work_mode", F.lit(work_mode))
                .withColumn("__year", F.year("warc_ts").cast("int")))

    keys = (None if keys_df is None
            else keyed(keys_df.select("url", "warc_ts")).drop("warc_ts"))
    numbered = with_sequences(
        keyed(df), "url", {"lp_year": ("work_mode", "__year")}, keys)
    return numbered.withColumn(
        "display_number", display_number_col(work_mode)).drop("__year")


@pytest.fixture()
def display_numbers():
    """The year-scoped numbering as ``finalize_names`` builds it, for
    tests that number frames without a completed chunk output."""
    return _display_numbers
