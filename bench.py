#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line with per-query seconds.

    SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=<cores> python bench.py

Headline: the flagship extraction pipeline (synthetic north-rule corpus,
binary payloads → sniff → extract → cascade → number → name) measured as
documents/sec, plus representative operator queries at the SF dir.
Per-layer, seeded and output-checked measurements live in ``perfbench/``
(see perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Sized so parallel work (~900 core-s) dominates Spark's ~10 s/JVM fixed
# overhead — the amortised regime a real multi-hour 100 TB job lives in;
# smaller corpora measure JVM startup, not the pipeline.
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "240000"))
CORPUS_SEED = 42
# every 100th PDF row repeats its pages ×500 (~400 KB payload, ~200× the
# median work) — the skew profile the north rule requires us to defuse
SKEW_EVERY = 100
SKEW_FACTOR = 500
# zstd at rest: 3× smaller than snappy on this payload — the codec a real
# 100 TB table would use
CORPUS_CODEC = "zstd"
# fine-grained files (≈940 docs each, 1–256 of them): the map-only
# extraction stage inherits its task granularity from input splits, and
# a smoke corpus stays a few files instead of one tiny file per document
CORPUS_FILES = min(256, max(1, -(-N_DOCS // 940)))
CORPUS_PATH = (
    f"/tmp/archvisier_bench_corpus_n{N_DOCS}_f{CORPUS_FILES}_s{CORPUS_SEED}"
    f"_k{SKEW_EVERY}x{SKEW_FACTOR}_{CORPUS_CODEC}.parquet"
)

# Representative operator subset for per-round tracking (full inventory is
# covered by the driver's correctness run; bench tracks the heavy shapes).
BENCH_OPS = (
    "tpch_pricing_summary",
    "tpch_nation_revenue",
    "tpch_top3_orders_per_customer",
    "text_quality_scores",
    "dedup_minhash_lsh",
    "dedup_simhash_buckets",
    "sim_cosine_topk",
    "events_hourly_counts",
    "cascade_metadata",
)


def ensure_corpus(spark) -> str:
    """Materialise the deterministic corpus once; timing then measures the
    read→extract pipeline, not synthesis (mirrors reading an Iceberg table)."""
    if not os.path.exists(CORPUS_PATH):
        from archvisier_spark.corpus import corpus_df

        corpus_df(
            spark, N_DOCS, seed=CORPUS_SEED,
            skew_every=SKEW_EVERY, skew_factor=SKEW_FACTOR, partitions=CORPUS_FILES,
        ).write.mode("overwrite").option("compression", CORPUS_CODEC).parquet(CORPUS_PATH)
    return CORPUS_PATH


def run_extraction(spark) -> tuple[float, float, int]:
    """One trial: (extraction-only sec, full-pipeline sec, docs).

    Extraction-only is the ``extract_docs_per_sec`` headline; the full
    pipeline (extract → number → name) is the end-to-end figure the
    extract_corpus query tracks round-over-round."""
    from archvisier_spark.pipeline.extract import extract_documents, with_new_names

    path = ensure_corpus(spark)
    docs = spark.read.parquet(path)
    t0 = time.time()
    n = extract_documents(docs).count()
    extract_sec = time.time() - t0
    t0 = time.time()
    # keys_df: numbering pre-pass reads the pruned url column, so the
    # extraction UDF runs exactly once.  A noop sink, not count(): column
    # pruning would drop the naming UDF from a count's plan
    with_new_names(extract_documents(docs), work_mode="KP", keys_df=docs).write.format(
        "noop").mode("overwrite").save()
    return extract_sec, time.time() - t0, n


# 7 ops trials: at this VM's documented ±50% noise, 3 trials could not
# adjudicate multi-second deltas (round-3 verdict #3).  Extraction runs 5
# trials since round 5: BENCH_r04 recorded IQR 7.7 s on a 13.7 s median
# from 3 samples — too thin for the one number the driver names.
# Clamped to ≥1 so the output dict is always populated.
BENCH_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "7"))
EXTRACT_TRIALS = max(1, int(os.environ.get("SPARK_GRAFT_EXTRACT_TRIALS", "5")))


def _iqr(samples: list[float]) -> float:
    import statistics

    if len(samples) < 4:
        return max(samples) - min(samples)
    q1, _, q3 = statistics.quantiles(samples, n=4)
    return q3 - q1


def main_bench() -> None:
    """Per-query MEDIANS over interleaved trials: this shared VM shows
    ±20%+ run noise, so single-shot per-query numbers read as regressions
    that aren't (round-2 verdict).  Trials interleave across the whole
    query set (q1..qn, q1..qn, ...) so a noisy window hits every query,
    not one.  ``query_spread_sec`` is the INTERQUARTILE range over trials
    (the robust spread matching the median estimator; max−min grows with
    trial count and one hypervisor stall poisons it); ``query_minmax_sec``
    keeps the full range for reference."""
    import statistics

    from archvisier_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="bench")
    from archvisier_spark.ops import all_queries

    qmap = all_queries()
    samples: dict[str, list[float]] = {"extract_corpus": []}
    extract_only_rates: list[float] = []
    pipeline_rates: list[float] = []
    n_docs = 0
    for name in BENCH_OPS:
        samples[name] = []

    # steady-state start: a 2% sample still touches every input split, so
    # every Python worker is forked and imports the kernel before the
    # clock starts, and trial 1 doesn't carry N worker cold-starts
    from archvisier_spark.pipeline.extract import extract_documents as _ed

    _ed(spark.read.parquet(ensure_corpus(spark)).sample(fraction=0.02, seed=0)).count()

    for trial in range(BENCH_TRIALS):
        if trial < EXTRACT_TRIALS:
            ex_sec, pipe_sec, n_docs = run_extraction(spark)
            samples["extract_corpus"].append(pipe_sec)
            extract_only_rates.append(n_docs / ex_sec)
            pipeline_rates.append(n_docs / pipe_sec)
        for name in BENCH_OPS:
            t0 = time.time()
            qmap[name](spark, SF_DIR).count()
            samples[name].append(time.time() - t0)

    queries = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    spread = {n: round(_iqr(s), 3) for n, s in samples.items()}
    minmax = {n: round(max(s) - min(s), 3) for n, s in samples.items()}
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    total = round(sum(queries.values()), 3)
    out = {
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "trials": BENCH_TRIALS,
        "extract_trials": EXTRACT_TRIALS,
        "query_spread_sec": spread,
        "query_minmax_sec": minmax,
        "extract_docs": n_docs,
        "extract_docs_per_sec": round(statistics.median(extract_only_rates), 1),
        "pipeline_docs_per_sec": round(statistics.median(pipeline_rates), 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main_bench()
