"""``python bench.py`` contract: one JSON line on stdout with the headline
keys and every tracked query, and none of the keys of the retired
pooled-throughput and scaling-series outputs."""

import json
import os
import subprocess
import sys
from pathlib import Path

from archvisier_spark.ops.oracle_env import driver_sf_dir

REPO = Path(__file__).resolve().parent.parent
# bench.BENCH_OPS, spelled out: the keys are the contract
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


def test_bench_prints_one_json_line():
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": driver_sf_dir(),
        "SPARK_GRAFT_BENCH_DOCS": "200",
        "SPARK_GRAFT_BENCH_TRIALS": "1",
        "SPARK_GRAFT_EXTRACT_TRIALS": "1",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_DRIVER_MEMORY": "2g",
    }
    r = subprocess.run([sys.executable, "bench.py"], cwd=REPO, env=env,
                       capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [line for line in r.stdout.splitlines() if line.strip()]
    assert len(lines) == 1, r.stdout[-2000:]
    out = json.loads(lines[0])

    assert {"metric", "value", "unit", "queries", "sf"} <= set(out)
    assert out["metric"] == "bench_total_sec" and out["unit"] == "sec"
    assert isinstance(out["sf"], float)
    assert set(out["queries"]) == {"extract_corpus", *BENCH_OPS}
    assert len(out["queries"]) == 10
    assert all(v > 0 for v in out["queries"].values())
    assert out["extract_docs"] == 200
    assert not [k for k in out
                if k.startswith(("extract_pool_", "scaling_series_"))
                or k == "extract_docs_per_sec_inbench"]
