"""Streaming ≡ batch differentials (bounded source + availableNow)."""

import shutil
import uuid

import pytest

from archvisier_spark.corpus import corpus_df
from archvisier_spark.ops.events import q_hourly_counts
from archvisier_spark.pipeline.extract import extract_documents
from archvisier_spark.streaming.stream_extract import stream_extract, stream_hourly_counts

SF_DIR = "/root/testdata/sf0.001"


def _run_to_memory(sdf, name, checkpoint, mode="append"):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_extract_equals_batch(spark, tmp_path):
    corpus_path = str(tmp_path / "corpus")
    corpus_df(spark, 30, seed=3, partitions=3).write.parquet(corpus_path)

    name = f"ext_{uuid.uuid4().hex[:8]}"
    _run_to_memory(
        stream_extract(spark, corpus_path, max_files_per_trigger=1),
        name,
        str(tmp_path / "ckpt"),
    )
    # whole rows: spans, colors, extra, n_bytes and warc_ts included
    streamed = {
        r["url"]: r.asDict(recursive=True)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        r["url"]: r.asDict(recursive=True)
        for r in extract_documents(spark.read.parquet(corpus_path)).collect()
    }
    assert streamed == batch
    assert len(streamed) == 30


def test_stream_hourly_counts_equals_batch(spark, tmp_path):
    events_path = str(tmp_path / "events")
    # replay the driver events table as a bounded stream
    shutil.copytree(SF_DIR, events_path, ignore=shutil.ignore_patterns("*"))
    shutil.copy(f"{SF_DIR}/events.parquet", f"{events_path}/events.parquet")

    name = f"hour_{uuid.uuid4().hex[:8]}"
    # complete mode: append would withhold windows younger than the
    # watermark when the bounded replay ends
    _run_to_memory(
        stream_hourly_counts(spark, events_path),
        name,
        str(tmp_path / "ckpt2"),
        mode="complete",
    )
    streamed = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        (r["hour"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in q_hourly_counts(spark, SF_DIR).collect()
    }
    assert streamed == batch


def test_stream_dedup_equals_batch_distinct(spark, tmp_path):
    """Watermarked streaming dedup ≡ batch first-per-digest on a bounded
    replay with planted exact duplicates."""
    import datetime

    import pandas as pd
    from pyspark.sql import functions as F

    from archvisier_spark.streaming.stream_extract import stream_dedup

    base = datetime.datetime(2025, 1, 1, 12, 0, 0)
    rows = []
    for i in range(60):
        payload = f"payload-{i % 20}".encode()  # every payload ×3
        rows.append(
            {
                "url": f"u{i:03d}",
                "warc_ts": base + datetime.timedelta(seconds=i),
                "html": payload,
                "text": payload.decode(),
                "lang": "en",
            }
        )
    src = str(tmp_path / "dupsrc")
    spark.createDataFrame(pd.DataFrame(rows)).repartition(4).write.mode(
        "overwrite"
    ).parquet(src)

    _run_to_memory(
        stream_dedup(spark, src, watermark="1 hour"),
        "dedup_stream",
        str(tmp_path / "ck_dedup"),
    )
    got = spark.sql("SELECT * FROM dedup_stream").collect()
    digests = [r["digest"] for r in got]
    assert len(digests) == 20                      # one survivor per payload
    assert len(set(digests)) == 20
    # survivors carry valid source rows
    batch_digests = {
        r["digest"]
        for r in spark.read.parquet(src)
        .select(F.md5("html").alias("digest"))
        .distinct()
        .collect()
    }
    assert set(digests) == batch_digests
