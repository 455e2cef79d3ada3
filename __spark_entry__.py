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
    import pandas as pd
    from pyspark.sql import types as T

    from archvisier_spark.kernel.cascade import extract_info_from_text
    from archvisier_spark.pipeline.extract import SPAN_TYPE, info_spans, new_name_col
    from archvisier_spark.pipeline.numbering import (
        with_sequence,
        with_sequence_sorted,
    )

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("data", T.StringType(), False),
            T.StructField("nadawca_odbiorca", T.StringType(), False),
            T.StructField("w_sprawie", T.StringType(), False),
            T.StructField("numer_dokumentu", T.StringType(), False),
            T.StructField("sygnatura_sprawy", T.StringType(), False),
            T.StructField("typ_dokumentu", T.StringType(), False),
            T.StructField("doc_status", T.StringType(), False),
            T.StructField("spans", SPAN_TYPE, False),
            T.StructField("n_chars", T.LongType(), False),
        ]
    )

    def run_cascade(batches):
        for batch in batches:
            out = []
            for row in batch.itertuples(index=False):
                text = row.text or ""
                info = extract_info_from_text(text, str(row.doc_id), "KP", "")
                out.append(
                    {
                        "doc_id": row.doc_id,
                        "data": info["data"],
                        "nadawca_odbiorca": info["nadawca_odbiorca"],
                        "w_sprawie": info["w_sprawie"],
                        "numer_dokumentu": info["numer_dokumentu"],
                        "sygnatura_sprawy": info["sygnatura_sprawy"],
                        "typ_dokumentu": info["typ_dokumentu"],
                        "doc_status": info["status"],
                        "spans": info_spans(text, info),
                        "n_chars": len(text),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    # map-only: the cascade runs on scan splits — no payload shuffle
    # (consistent with extract_documents' design)
    extracted = docs.select("doc_id", "text").mapInPandas(run_cascade, schema)
    # documents.parquet is written sorted by doc_id, so the flagship takes
    # the zero-payload-Exchange numbering fast path (round-4 verdict #6):
    # offsets from a narrow stats pass over the raw scan (keys_df shares
    # the extraction's scan lineage), sequence = offset + in-partition
    # record index, validated per row.  An input without the sort order
    # falls back to the general two-phase rank (the single work_mode group
    # makes the grouped restart a constant, so both paths agree).
    try:
        numbered = with_sequence_sorted(
            extracted, order_col="doc_id", out_col="lp", keys_df=docs
        )
    except ValueError:
        numbered = with_sequence(
            extracted.withColumn("work_mode", F.lit("KP")),
            order_col="doc_id",
            partition_cols=("work_mode",),
            out_col="lp",
        )

    return numbered.withColumn("new_name", new_name_col()).drop("work_mode")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from archvisier_spark.ops import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from archvisier_spark.ops import all_oracles

    return all_oracles()
