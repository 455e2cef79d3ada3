"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the ArchVisier metadata-extraction cascade +
span labelling + deterministic renaming over the sf0.001 ``documents``
table (the full binary-payload pipeline over the north-rule corpus is
exercised by bench.py and tests/test_pipeline_differential.py).

``queries()``/``oracle_sql()`` — operator inventory per SURVEY.md §2,
implemented in ``archvisier_spark.ops``; names and column aliases match
pairwise with the DuckDB oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: metadata cascade → spans → lp → new_name over documents."""
    from archvisier_spark.pipeline.extract import new_name_col, with_metadata
    from archvisier_spark.pipeline.numbering import with_sequence

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    # map-only: the cascade runs on scan splits — no payload shuffle
    # (the extraction pipeline's own metadata stage, keyed by doc_id)
    extracted = with_metadata(
        docs.select(
            "doc_id",
            F.col("doc_id").cast("string").alias("url"),
            F.coalesce("text", F.lit("")).alias("extracted_text"),
        )
    ).select(
        "doc_id", "data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
        "sygnatura_sprawy", "typ_dokumentu", "doc_status", "spans", "n_chars",
    )
    # lp = dense rank by doc_id (the two-phase rank every job uses).  The
    # key slice comes from the raw scan (keys_df): numbering from
    # `extracted` would run the cascade a second time in the eager pin.
    numbered = with_sequence(extracted, "doc_id", keys_df=docs)
    return numbered.withColumn("new_name", new_name_col())


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from archvisier_spark.ops import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from archvisier_spark.ops import all_oracles

    return all_oracles()
