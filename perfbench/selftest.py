"""Self-tests of the benchmark itself (``python3 perfbench/run.py --self-test``).

* the distinct-vocabulary generator gives identical rows for the same seed
  and different rows for another seed, and its documents share no
  generated word;
* every metric name matches ``[A-Za-z0-9_.-]+`` and is used once, and
  ``BENCHMARK.json`` lists the metrics the code reports;
* the plan that the noop sink runs contains the naming UDF (a ``.count()``
  lets Spark prune it);
* the shared-shingle ``dedup_minhash_lsh`` oracle returns the same rows as
  the repository's pairwise one on a small table.
"""

from __future__ import annotations

import os
import re
import shutil

import launch


def _generator() -> None:
    import gen_distinct

    a = [gen_distinct.row(i, 7) for i in range(0, 400, 7)]
    assert a == [gen_distinct.row(i, 7) for i in range(0, 400, 7)], "same seed differs"
    assert a != [gen_distinct.row(i, 8) for i in range(0, 400, 7)], "seed ignored"
    words = {}
    for r in a:
        for w in set(r["text"].replace(".", " ").split()):
            if w.lower() not in {x for pool in gen_distinct._POOL.values() for x in pool}:
                assert words.setdefault(w, r["url"]) == r["url"], f"{w} shared"
    skewed = [i for i in range(400) if gen_distinct.is_skewed(i)]
    assert skewed == [199, 399], skewed


def _metric_names() -> None:
    """Names are valid and unique, and BENCHMARK.json lists exactly the
    metrics the code reports."""
    import json

    from run import END_TO_END
    from workloads import LAYER_METRICS, WORKLOADS

    names = [n for n, _, _ in END_TO_END + LAYER_METRICS]
    assert len(names) == len(set(names)), "duplicate metric name"
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    path = os.path.join(launch.ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as f:
            spec = json.load(f)
        for key, metrics in (("end_to_end", END_TO_END), ("per_layer", LAYER_METRICS)):
            listed = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
            assert listed == list(metrics), f"BENCHMARK.json {key} differs from the code"
        assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def _sunk_plan() -> None:
    import corpora
    from tracing import read_event_logs, sql_plans
    from workloads import fork_workers, noop

    from archvisier_spark.pipeline.extract import extract_documents, with_new_names

    log_dir = os.path.join(launch.OUT, "selftest-eventlog")
    path = os.path.join(launch.OUT, "selftest-corpus.parquet")
    for d in (log_dir, path):
        shutil.rmtree(d, ignore_errors=True)
    corpora.write_distinct(path, 40, 1, 2, 2)
    spark, _ = launch.start_session(event_log_dir=log_dir)
    try:
        fork_workers(spark)
        docs = spark.read.parquet(path)
        noop(with_new_names(extract_documents(docs), work_mode="KP", keys_df=docs))
    finally:
        spark.stop()
    plans = [p for events in read_event_logs(log_dir) for p in sql_plans(events)]
    sunk = [p for p in plans if "OverwriteByExpression" in p or "noop" in p.lower()]
    assert sunk, "no noop write in the event log"
    assert any("ArrowEvalPython" in p and "name_udf" in p for p in sunk), \
        "the noop sink's plan has no naming UDF"


def _minhash_oracle() -> None:
    import duckdb

    import gen_ops
    from workloads import OpsMix

    data = os.path.join(launch.OUT, "selftest-ops")
    shutil.rmtree(data, ignore_errors=True)
    gen_ops.write(data, 0.004, 3)  # 200 documents
    wl = OpsMix()
    wl.data = data
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{data}/documents.parquet'")
    fast = sorted(con.sql(wl.oracles()["dedup_minhash_lsh"]).fetchall())
    full = sorted(con.sql(wl.oracles(fast_minhash=False)["dedup_minhash_lsh"]).fetchall())
    con.close()
    assert fast == full and fast, (fast, full)


def main() -> int:
    for test in (_generator, _metric_names, _minhash_oracle, _sunk_plan):
        test()
        print(f"ok {test.__name__.lstrip('_')}", flush=True)
    return 0
