"""Checkpoint/resume semantics: interrupted runs converge to the exact
single-shot output; retries are idempotent; lineage audits the bytes."""

import pytest
from pyspark.sql import functions as F

from archvisier_spark.corpus import corpus_df
from archvisier_spark.pipeline.extract import extract_documents
from archvisier_spark.pipeline.lineage import (
    chunk_id_col,
    finalize_names,
    lineage_report,
    run_resumable,
)

N_DOCS = 50
N_CHUNKS = 8


@pytest.fixture()
def docs(spark):
    return corpus_df(spark, N_DOCS, seed=9, partitions=4)


def _done(spark, ckpt):
    """Chunk ids whose latest lineage row is ``ok``."""
    return {r["chunk_id"] for r in lineage_report(spark, ckpt).collect()
            if r["status"] == "ok"}


def _single_shot(spark, docs):
    return {
        r["url"]: (r["extracted_text"], r["status"])
        for r in extract_documents(docs).collect()
    }


def test_interrupted_runs_converge(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # simulate a job dying after 3 chunks, twice, then finishing
    runs = []
    while True:
        processed = run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS, max_chunks_per_run=3)
        if not processed:
            break
        runs.append(processed)
    assert len(runs) == 3  # 3+3+2 chunks
    assert sorted(c for r in runs for c in r) == list(range(N_CHUNKS))

    got = {
        r["url"]: (r["extracted_text"], r["status"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == _single_shot(spark, docs)


def test_rerun_is_noop_and_idempotent(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS)
    assert sorted(first) == list(range(N_CHUNKS))
    again = run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS)
    assert again == []
    assert spark.read.parquet(out).count() == N_DOCS


def test_lineage_accounts_for_every_doc(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS)
    report = lineage_report(spark, ckpt)
    rows = report.collect()
    assert {r["chunk_id"] for r in rows} == set(range(N_CHUNKS)) & {
        r["chunk_id"] for r in rows
    }
    assert sum(r["n_docs"] for r in rows) == N_DOCS
    assert all(r["status"] == "ok" for r in rows)
    assert all(r["n_errors"] == 0 for r in rows)


def test_checksums_match_single_shot(spark, docs, tmp_path):
    """Resumed-run lineage checksums equal checksums computed over a
    single-shot extraction — byte-level audit of resume correctness."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    while run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS, max_chunks_per_run=2):
        pass
    resumed = {
        r["chunk_id"]: r["checksum"] for r in lineage_report(spark, ckpt).collect()
    }
    single = {
        r["chunk_id"]: r["checksum"]
        for r in extract_documents(docs)
        .withColumn("chunk_id", chunk_id_col(F.col("url"), N_CHUNKS))
        .groupBy("chunk_id")
        .agg(F.expr("bit_xor(xxhash64(url, extracted_text))").alias("checksum"))
        .collect()
    }
    assert resumed == single


def test_finalize_names_dense_sequence(spark, docs, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS)
    named = finalize_names(spark, out).collect()
    by_url = sorted(named, key=lambda r: r["url"])
    assert [r["lp"] for r in by_url] == list(range(1, N_DOCS + 1))
    # the year-scoped display number ships in the flagship output schema
    for r in by_url:
        year = r["warc_ts"].year
        assert r["display_number"] == f"KP/{r['lp_year']}/{year}"
    # lp_year is a dense 1..k sequence within each year
    years = {}
    for r in by_url:  # by_url is url-ordered, the numbering order
        seq = years.setdefault(r["warc_ts"].year, [])
        seq.append(r["lp_year"])
    for year, seq in years.items():
        assert seq == list(range(1, len(seq) + 1)), year


def test_missing_checkpoint_means_no_chunk_is_done(spark, docs, tmp_path):
    ckpt = str(tmp_path / "missing")
    assert run_resumable(spark, docs, str(tmp_path / "out"), ckpt,
                         n_chunks=N_CHUNKS, max_chunks_per_run=2) == [0, 1]
    assert _done(spark, ckpt) == {0, 1}


def test_legacy_checkpoint_without_run_id(spark, docs, tmp_path):
    """Checkpoints written before the run_id column existed must keep
    working: lineage_report orders by run_id, and a mixed-schema parquet
    dir read without mergeSchema may drop the column depending on which
    footer Spark samples (round-2 ADVICE)."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # hand-write a legacy lineage row (no run_id column) for chunk 0
    spark.createDataFrame(
        [(0, 5, 1000, 0, 12345, "ok")],
        "chunk_id int, n_docs long, n_bytes long, n_errors long, checksum long, status string",
    ).write.mode("append").parquet(ckpt)

    # resume: chunk 0 must be seen as done; new rows get run_id >= 0
    processed = run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS)
    assert 0 not in processed
    assert sorted(processed) == [c for c in range(N_CHUNKS) if c != 0]

    # the mixed-schema checkpoint still reports — legacy row wins for
    # chunk 0 (its only row), new rows win elsewhere
    report = {r["chunk_id"]: r for r in lineage_report(spark, ckpt).collect()}
    assert set(report) == set(range(N_CHUNKS))
    assert report[0]["run_id"] == -1 and report[0]["n_docs"] == 5
    assert all(report[c]["run_id"] == 0 for c in range(1, N_CHUNKS))

    # a second pass over the mixed dir is still a no-op
    assert run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS) == []


def test_resume_redoes_failed_chunk_under_next_run_id(spark, docs, tmp_path):
    """One checkpoint read yields both the done set and the run counter:
    with ok rows from runs 0-2 and only a non-ok row for chunk c, chunk c
    alone is redone and its new row carries run_id 3."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    c = 3
    rows = [(k, 1, 100, 0, 0, "ok", k % 3) for k in range(N_CHUNKS) if k != c]
    rows.append((c, 1, 100, 1, 0, "failed", 1))
    spark.createDataFrame(
        rows,
        "chunk_id int, n_docs long, n_bytes long, n_errors long, checksum long, "
        "status string, run_id int",
    ).write.parquet(ckpt)

    assert _done(spark, ckpt) == set(range(N_CHUNKS)) - {c}
    assert run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS) == [c]
    in_chunk = docs.filter(chunk_id_col(F.col("url"), N_CHUNKS) == c).count()
    latest = {r["chunk_id"]: r for r in lineage_report(spark, ckpt).collect()}
    assert latest[c]["run_id"] == 3 and latest[c]["status"] == "ok"
    assert latest[c]["n_docs"] == in_chunk == spark.read.parquet(out).count()
    assert run_resumable(spark, docs, out, ckpt, n_chunks=N_CHUNKS) == []


@pytest.mark.parametrize("mode", ["KP", "SA"])
def test_finalize_names_matches_separate_numbering(spark, display_numbers, tmp_path,
                                                   mode):
    """The fused lp + lp_year pass equals the two separate passes
    (with_new_names, then the year-scoped numbering) over a chunk output
    that spans four warc_ts years and every range partition."""
    from datetime import datetime

    from archvisier_spark.kernel.naming import counter_key, next_display_number
    from archvisier_spark.pipeline.extract import with_new_names

    n = 400
    rows = [
        (
            f"https://archiwum.example/{(i * 7919) % n:04d}",
            datetime(2021 + i % 4, 1 + i % 12, 1 + i % 28, i % 24),
            f"II K {i % 13}/2{i % 4}" if i % 3 else "",
            f"{i}/2024" if i % 5 else "",
            "Sąd Rejonowy" if i % 2 else "",
            "Wyrok" if i % 7 else "",
            f"sprawa {i % 11}",
            i % N_CHUNKS,
        )
        for i in range(n)
    ]
    path = str(tmp_path / "out")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, sygnatura_sprawy string, "
        "numer_dokumentu string, nadawca_odbiorca string, typ_dokumentu string, "
        "w_sprawie string, chunk_id int",
    ).write.partitionBy("chunk_id").parquet(path)
    assert spark.sparkContext.defaultParallelism >= 4  # range partitions

    cols = ["lp", "lp_year", "display_number", "new_name"]
    fused = {r["url"]: tuple(r[c] for c in cols)
             for r in finalize_names(spark, path, work_mode=mode).collect()}
    separate = display_numbers(
        with_new_names(spark.read.parquet(path).drop("chunk_id"), work_mode=mode),
        mode,
    )
    want = {r["url"]: tuple(r[c] for c in cols) for r in separate.collect()}
    assert fused == want
    # both against the reference's sequential counter loop over sorted urls
    counters: dict = {}
    sa: dict = {}
    by_url = sorted(rows)
    for lp, (url, ts, *_rest) in enumerate(by_url, start=1):
        disp = next_display_number(mode, ts.year, counters, sa)
        lp_year = (sa if mode == "SA" else counters)[counter_key(mode, ts.year)]
        assert fused[url][:3] == (lp, lp_year, disp), url
    assert len({ts.year for _, ts, *_rest in rows}) == 4


def test_null_year_rows_are_numbered_not_dropped(spark, display_numbers, tmp_path):
    """A document without a timestamp has no year.  It keeps its place in
    the url-ordered lp, its null year is an lp_year group of its own (as
    SQL GROUP BY treats a null) and its display number is NULL: the
    year-keyed numbering joins must not drop it."""
    from datetime import datetime

    n = 40
    rows = [
        (f"https://archiwum.example/{(i * 17) % n:04d}",
         None if i % 10 == 3 else datetime(2022 + i % 2, 1 + i % 12, 1),
         "", "", "", "", "", i % N_CHUNKS)
        for i in range(n)
    ]
    path = str(tmp_path / "out")
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, sygnatura_sprawy string, "
        "numer_dokumentu string, nadawca_odbiorca string, typ_dokumentu string, "
        "w_sprawie string, chunk_id int",
    ).write.partitionBy("chunk_id").parquet(path)

    named = sorted(finalize_names(spark, path).collect(), key=lambda r: r["url"])
    assert [r["lp"] for r in named] == list(range(1, n + 1))
    years: dict = {}
    for r in named:  # url order, the numbering order
        year = r["warc_ts"].year if r["warc_ts"] is not None else None
        years.setdefault(year, []).append(r["lp_year"])
        want = None if year is None else f"KP/{r['lp_year']}/{year}"
        assert r["display_number"] == want, r["url"]
    assert len(years[None]) == 4
    for year, seq in years.items():
        assert seq == list(range(1, len(seq) + 1)), year

    shown = display_numbers(spark.read.parquet(path).select("url", "warc_ts"), "KP")
    got = {r["url"]: (r["lp_year"], r["display_number"]) for r in shown.collect()}
    assert got == {r["url"]: (r["lp_year"], r["display_number"]) for r in named}


def test_resume_with_other_n_chunks_is_refused(spark, tmp_path):
    """Chunk ids from pmod(xxhash64(url), 4) name other url sets than
    under 8, so resuming a 4-chunk checkpoint with 8 chunks would write
    the overlap twice.  It must raise before writing anything, and a
    resume with the checkpoint's own count must still finish the job."""
    docs = corpus_df(spark, 200, seed=1)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    assert run_resumable(spark, docs, out, ckpt, n_chunks=4,
                         max_chunks_per_run=2) == [0, 1]
    written = spark.read.parquet(out).count()

    with pytest.raises(ValueError, match=r"n_chunks=\[4\].*n_chunks=8"):
        run_resumable(spark, docs, out, ckpt, n_chunks=8)
    assert spark.read.parquet(out).count() == written
    assert _done(spark, ckpt) == {0, 1}

    assert run_resumable(spark, docs, out, ckpt, n_chunks=4) == [2, 3]
    final = spark.read.parquet(out)
    assert final.count() == final.select("url").distinct().count() == 200
    assert {r["n_chunks"] for r in lineage_report(spark, ckpt).collect()} == {4}


@pytest.mark.parametrize("counts", [
    {"n_chunks": 0}, {"max_chunks_per_run": 0}, {"max_chunks_per_run": -1},
], ids=["n_chunks_0", "max_chunks_0", "max_chunks_-1"])
def test_counts_below_one_are_refused(spark, docs, tmp_path, counts):
    """``max_chunks_per_run=-1`` once sliced ``todo[:-1]`` and ran all
    chunks but the last, and ``n_chunks=0`` wrote nothing and then failed
    on the missing checkpoint: both raise before anything is written."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="must be at least 1"):
        run_resumable(spark, docs, str(out), str(tmp_path / "ckpt"),
                      **{"n_chunks": N_CHUNKS, **counts})
    assert not out.exists()
