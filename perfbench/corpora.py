"""The extraction workloads' corpora as parquet files.

Rows are made in spawned processes: making the expected text runs the
kernel's repair, and its memos must not be left warm in this process, which
runs the kernel layer of a traced run.  Each file holds one contiguous range
of document ids, as ``corpus.corpus_df`` writes one file per partition.
"""

from __future__ import annotations

import multiprocessing
import os


def _table(rows: list[dict]):
    import pyarrow as pa

    return pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
    })


def _ranges(n_docs: int, parts: int) -> list[tuple[int, int]]:
    return [(k * n_docs // parts, (k + 1) * n_docs // parts) for k in range(parts)]


def _write_distinct(dest: str, k: int, lo: int, hi: int, seed: int) -> None:
    import pyarrow.parquet as pq

    import gen_distinct

    pq.write_table(_table([gen_distinct.row(i, seed) for i in range(lo, hi)]),
                   os.path.join(dest, f"part-{k:05d}.parquet"))


def _write_north(dest: str, n_docs: int, seed: int, parts: int, skew_every: int,
                 skew_factor: int) -> None:
    import pyarrow.parquet as pq

    from archvisier_spark.corpus import generate_rows

    rows = generate_rows(n_docs, seed=seed, skew_every=skew_every, skew_factor=skew_factor)
    for k, (lo, hi) in enumerate(_ranges(n_docs, parts)):
        pq.write_table(_table(rows[lo:hi]), os.path.join(dest, f"part-{k:05d}.parquet"))


def _in_processes(procs: int, fn, calls: list[tuple]) -> None:
    """``fn(*args)`` for each of ``calls`` on ``procs`` spawned processes,
    which have all ended on return."""
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        pool.starmap(fn, calls)
        pool.close()
        pool.join()


def write_distinct(dest: str, n_docs: int, seed: int, parts: int, procs: int) -> None:
    """``gen_distinct`` rows, ``parts`` files."""
    os.makedirs(dest)
    _in_processes(min(parts, procs), _write_distinct,
                  [(dest, k, lo, hi, seed) for k, (lo, hi) in enumerate(_ranges(n_docs, parts))])


def write_north(dest: str, n_docs: int, seed: int, parts: int, skew_every: int,
                skew_factor: int) -> None:
    """``corpus.generate_rows`` (the rows ``corpus.corpus_df`` makes),
    ``parts`` files."""
    os.makedirs(dest)
    _in_processes(1, _write_north, [(dest, n_docs, seed, parts, skew_every, skew_factor)])
