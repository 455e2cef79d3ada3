"""Per-partition lineage + idempotent checkpoint/resume (north rule).

The reference resumes work by cancelling between documents and restoring
encrypted session state (app_session_manager.py:84-158, SURVEY.md §2.1
S10); at 10^12 documents the equivalent is range-level bookkeeping:

* the url space is split into ``n_chunks`` deterministic hash ranges
  (``chunk_id = pmod(xxhash64(url), n_chunks)``);
* each run extracts only chunks without an ``ok`` lineage row, writing
  output partitioned by ``chunk_id`` with dynamic partition overwrite —
  re-running a failed/duplicate chunk REPLACES its partition, so retries
  are exactly-once at chunk granularity.  On an Iceberg deployment this
  maps 1:1 to ``MERGE INTO``/``REPLACE WHERE`` on the checkpoint and
  output tables; the parquet implementation here has the same idempotence
  contract and is what the sandbox can execute;
* every completed chunk appends one lineage row
  ``(chunk_id, n_docs, n_bytes, n_errors, checksum, status, run_id,
  n_chunks)`` where ``checksum`` is an order-independent content digest
  (bit_xor of xxhash64(url, extracted_text)) — enough to audit that a resumed
  run reproduced exactly the bytes a single-shot run would have.

The checkpoint is read once per :func:`run_resumable` call: one collect
of ``(chunk_id, status, run_id, n_chunks)`` yields the done set, the next
run id and the chunk counts earlier runs used.  The same chunk id
covers another url set under another ``n_chunks``, so a resume with a
different count is refused rather than writing documents twice.

Numbering (``lp``/``new_name``) is global across chunks, so it is applied
by :func:`finalize_names` once all chunks are complete — it is a pure
function of the completed output (url order), so it never blocks resume.
``lp`` and the year-scoped ``lp_year`` come from one numbering pass.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from archvisier_spark.pipeline.extract import (
    display_number_col,
    extract_documents,
    new_name_col,
)
from archvisier_spark.pipeline.numbering import with_sequences

DEFAULT_CHUNKS = 64
STATUS_OK = "ok"


def chunk_id_col(url_col, n_chunks: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_chunks)).cast("int")


def _read_checkpoint(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    """Checkpoint reader tolerant of pre-``run_id`` history: mergeSchema
    unions old and new parquet footers (a plain read may sample only an
    old footer and drop the column), and rows appended before the
    ``run_id`` column existed surface as ``run_id = -1`` — older than any
    real run, so recency ordering stays correct.  Rows appended before
    the ``n_chunks`` column existed read it as null."""
    lin = spark.read.option("mergeSchema", "true").parquet(checkpoint_path)
    if "n_chunks" not in lin.columns:
        lin = lin.withColumn("n_chunks", F.lit(None).cast("int"))
    if "run_id" not in lin.columns:
        return lin.withColumn("run_id", F.lit(-1))
    return lin.withColumn("run_id", F.coalesce(F.col("run_id"), F.lit(-1)))


def _checkpoint_state(
    spark: SparkSession, checkpoint_path: str,
) -> tuple[set[int], int, set[int]]:
    """``(done chunk ids, next run id, recorded chunk counts)`` from ONE
    read of the checkpoint.

    The run id is a monotonic counter derived from the checkpoint itself —
    the lineage analog of an Iceberg snapshot id, so "latest row per
    chunk" means recency, not max-docs.  The chunk counts skip rows
    written before ``n_chunks`` was recorded.  The collect is one row per
    chunk per run: tiny by design.  A missing checkpoint means nothing is
    done."""
    try:
        rows = (
            _read_checkpoint(spark, checkpoint_path)
            .select("chunk_id", "status", "run_id", "n_chunks")
            .collect()
        )
    except AnalysisException:
        return set(), 0, set()
    done = {r["chunk_id"] for r in rows if r["status"] == STATUS_OK}
    counts = {r["n_chunks"] for r in rows if r["n_chunks"] is not None}
    return done, max((r["run_id"] for r in rows), default=-1) + 1, counts


def run_resumable(
    spark: SparkSession,
    docs: DataFrame,
    output_path: str,
    checkpoint_path: str,
    n_chunks: int = DEFAULT_CHUNKS,
    max_chunks_per_run: int | None = None,
    language: str = "auto",
    work_mode: str = "KP",
    ocr_mode: str = "text",
) -> list[int]:
    """Extract every not-yet-done chunk; returns the chunk ids processed.

    ``max_chunks_per_run`` bounds one invocation (used by tests to simulate
    a job dying partway; operationally it bounds blast radius per retry).
    Safe to re-run after any failure: finished chunks are skipped via the
    lineage table, half-written chunks are overwritten whole.  Raises
    ``ValueError`` if ``n_chunks`` or ``max_chunks_per_run`` is below 1,
    or if the checkpoint was written with another ``n_chunks``: its chunk
    ids name other url sets, so resuming would write some documents twice.
    """
    if n_chunks < 1 or (max_chunks_per_run is not None and max_chunks_per_run < 1):
        raise ValueError(f"n_chunks={n_chunks} and max_chunks_per_run="
                         f"{max_chunks_per_run} must be at least 1")
    done, run_id, counts = _checkpoint_state(spark, checkpoint_path)
    if counts - {n_chunks}:
        raise ValueError(
            f"checkpoint {checkpoint_path} was written with n_chunks="
            f"{sorted(counts)}, this run asks for n_chunks={n_chunks}; resume "
            "with the checkpoint's count or start a new output and checkpoint"
        )
    todo = sorted(set(range(n_chunks)) - done)
    if max_chunks_per_run is not None:
        todo = todo[:max_chunks_per_run]
    if not todo:
        return []

    subset = docs.withColumn("chunk_id", chunk_id_col(F.col("url"), n_chunks)).filter(
        F.col("chunk_id").isin([int(c) for c in todo])
    )
    result = extract_documents(
        subset.drop("chunk_id"), language=language, work_mode=work_mode,
        ocr_mode=ocr_mode,
    ).withColumn("chunk_id", chunk_id_col(F.col("url"), n_chunks))

    # Idempotent chunk replacement (parquet stand-in for Iceberg MERGE):
    # only the partitions present in `result` are overwritten.  The mode is
    # a writer option, so the session's overwrite semantics never change.
    (result.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy("chunk_id").parquet(output_path))

    # Lineage rows are derived from what was actually WRITTEN, not from the
    # input — the audit trail reflects durable output.
    written = spark.read.parquet(output_path).filter(
        F.col("chunk_id").isin([int(c) for c in todo])
    )
    lineage = written.groupBy("chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("n_bytes"),
        F.sum((F.col("status") != "Sukces").cast("long")).alias("n_errors"),
        # bit_xor: order-independent, overflow-free under ANSI mode
        F.expr("bit_xor(xxhash64(url, extracted_text))").alias("checksum"),
    ).withColumns({"status": F.lit(STATUS_OK), "run_id": F.lit(run_id),
                   "n_chunks": F.lit(n_chunks)})
    lineage.write.mode("append").parquet(checkpoint_path)
    return todo


def finalize_names(
    spark: SparkSession, output_path: str, work_mode: str = "KP",
) -> DataFrame:
    """Global numbering + naming over the completed chunk output, plus the
    year-scoped display number: the flagship output ships ``lp`` /
    ``new_name`` (X13/X14) AND ``lp_year`` / ``display_number`` — the
    reference's ``{mode}/{year}`` session counters rendered with the
    TYPE_PATTERNS literals (gui/constants.py:9-13) — not just the oracle
    query's view of them."""
    output = spark.read.parquet(output_path).drop("chunk_id")
    # lp and lp_year are both dense ranks in url order: one key slice,
    # one counts collect and one payload join number them together
    numbered = with_sequences(
        output.withColumn("work_mode", F.lit(work_mode))
        .withColumn("__year", F.year("warc_ts").cast("int")),
        "url",
        {"lp": ("work_mode",), "lp_year": ("work_mode", "__year")},
    )
    return (
        numbered.withColumn("new_name", new_name_col())
        .withColumn("display_number", display_number_col(work_mode))
        .drop("__year")
    )


def lineage_report(spark: SparkSession, checkpoint_path: str) -> DataFrame:
    """The checkpoint table, latest row per chunk."""
    from pyspark.sql import Window

    lin = _read_checkpoint(spark, checkpoint_path)
    # parquet append keeps history; the MOST RECENT row per chunk wins
    # (run_id is the snapshot counter) — a reprocess that legitimately
    # shrinks a chunk's doc count still surfaces as the current state.
    w = Window.partitionBy("chunk_id").orderBy(F.desc("run_id"), F.desc("n_docs"))
    return lin.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
