"""Recall/correctness tests for the rows-only dedup operators."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from archvisier_spark.ops.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    simhash64,
)


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with planted near-duplicates: doc i and i+100 share ~95% of
    tokens; unrelated docs share a tiny vocabulary overlap."""
    import random

    rng = random.Random(5)
    vocab = [f"w{k}" for k in range(5000)]
    rows = []
    for i in range(100):
        base = [rng.choice(vocab) for _ in range(120)]
        rows.append((i, " ".join(base)))
        near = list(base)
        for _ in range(6):  # ~5% token edits
            near[rng.randrange(len(near))] = rng.choice(vocab)
        rows.append((i + 100, " ".join(near)))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_minhash_lsh_finds_planted_pairs(planted):
    cands = lsh_candidate_pairs(minhash_signatures(planted))
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    planted_pairs = {(i, i + 100) for i in range(100)}
    recall = len(pairs & planted_pairs) / len(planted_pairs)
    assert recall >= 0.95, f"LSH recall too low: {recall}"
    # precision: candidates should be dominated by real pairs
    assert len(pairs - planted_pairs) <= len(planted_pairs), f"too many false candidates: {len(pairs)}"


def test_minhash_signature_deterministic(planted):
    a = minhash_signatures(planted).orderBy("doc_id").collect()
    b = minhash_signatures(planted).orderBy("doc_id").collect()
    assert [r["sig"] for r in a] == [r["sig"] for r in b]


def test_simhash_near_duplicates_close(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog again and again today",
                    "the quick brown fox jumps over the lazy cat again and again today",
                    "completely different words about spark shuffles and parquet readers",
                ],
            }
        )
    )
    rows = {r["doc_id"]: r["h"] for r in df.select("doc_id", simhash64("text").alias("h")).collect()}
    def hamming(a, b):
        return bin((a & 0xFFFFFFFFFFFFFFFF) ^ (b & 0xFFFFFFFFFFFFFFFF)).count("1")
    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[3])
    assert hamming(rows[1], rows[2]) <= 16


def test_simhash_deterministic_and_engine_independent(spark):
    # token hashes come from xxhash64 — a spec'd Spark function with a
    # fixed seed, so values are stable across runs and Spark versions
    df = spark.createDataFrame(pd.DataFrame({"text": ["alpha beta gamma"]}))
    val = df.select(simhash64("text").alias("h")).collect()[0]["h"]
    val2 = df.select(simhash64("text").alias("h")).collect()[0]["h"]
    assert val == val2 != 0


def test_simhash_empty_and_null_text(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["", "   ", None]})
    )
    rows = {r["doc_id"]: r["h"] for r in df.select("doc_id", simhash64("text").alias("h")).collect()}
    assert rows[1] == 0 and rows[2] == 0
    assert rows[3] == 0 or rows[3] is None


def test_fingerprint_order_sensitive_and_deterministic(spark):
    from archvisier_spark.ops.cascade_ops import fingerprint_col

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["alpha beta gamma", "gamma beta alpha", "alpha beta gamma", ""],
            }
        )
    )
    rows = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fingerprint_col("text").alias("fp")).collect()}
    assert rows[1] == rows[3]            # deterministic
    assert rows[1] != rows[2]            # rolling: order matters
    assert rows[4] is not None           # empty text → seed value, not null


def test_signatures_from_shingles_bigint_lanes_and_empty_array(spark):
    """The sketch is array<bigint>, and an empty shingle array yields the
    untouched all-Long.MAX accumulator (every empty doc shares it)."""
    from pyspark.sql import types as T

    from archvisier_spark.ops.dedup import signatures_from_shingles

    sh = spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, [])],
        "doc_id int, sh array<string>",
    )
    sigs = signatures_from_shingles(sh, k=4)
    assert sigs.schema["sig"].dataType == T.ArrayType(T.LongType(), False)
    got = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert got[2] == [(1 << 63) - 1] * 4
    assert all(v < (1 << 31) for v in got[1])
