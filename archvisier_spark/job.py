"""spark-submit entrypoint — the north rule's packaging surface.

Usage (cluster; the master and ``--conf`` settings come from spark-submit)::

    scripts/package.sh                         # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        archvisier_spark/job.py \\
        --input  s3://bucket/documents_web    \\
        --output s3://bucket/extracted        \\
        --checkpoint s3://bucket/extract_ckpt \\
        --n-chunks 4096 --finalize

Local smoke (on Spark's ``local[*]``)::

    python archvisier_spark/job.py --synthesize 200 \\
        --output /tmp/out --checkpoint /tmp/ckpt --n-chunks 8 --finalize

Resumable by construction: re-running the same command after any failure
skips completed chunks and replaces half-written ones
(archvisier_spark.pipeline.lineage).  ``--finalize`` records what it
finalized in ``<checkpoint>/_finalized.json`` (a hidden file to Spark's
parquet reader): the latest lineage ``run_id``, the work mode, the named
output path and its row count.  A later ``--finalize`` with no chunk run
since then and the same work mode and path skips the rewrite and reports
the recorded count, unless the named output is missing.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


FINALIZED_MARKER = "_finalized.json"


def _hadoop_path(spark, path: str):
    """``(FileSystem, Path)`` for ``path`` through the session's Hadoop
    configuration: driver-side file access on any filesystem Spark reads,
    without a Spark job."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def _read_marker(spark, checkpoint: str) -> dict | None:
    fs, path = _hadoop_path(spark, checkpoint.rstrip("/") + "/" + FINALIZED_MARKER)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def _write_marker(spark, checkpoint: str, state: dict) -> None:
    fs, path = _hadoop_path(spark, checkpoint.rstrip("/") + "/" + FINALIZED_MARKER)
    stream = fs.create(path, True)
    try:
        stream.write(bytearray(json.dumps(state).encode()))
    finally:
        stream.close()


def _count(text: str) -> int:
    """argparse type of a count that must be at least 1."""
    if int(text) < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {text}")
    return int(text)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ArchVisier-Spark extraction job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet/Iceberg path of documents_web table")
    src.add_argument("--synthesize", type=_count, metavar="N",
                     help="generate an N-doc deterministic corpus instead of reading input")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--n-chunks", type=_count, default=64)
    p.add_argument("--max-chunks-per-run", type=_count, default=None)
    p.add_argument("--language", default=None,
                   help="OCR language (default: config file's ocr_language, or auto)")
    p.add_argument("--work-mode", default="KP")
    p.add_argument("--ocr-mode", default="text", choices=("text", "raster"),
                   help="PDF recovery path: 'text' reads content streams; "
                        "'raster' runs the reference's real OCR flow "
                        "(Poppler rasterize + Tesseract per page — needs the "
                        "cluster image's binaries, docker/Dockerfile.cluster; "
                        "where absent each PDF becomes a BŁĄD TECHNICZNY OCR: "
                        "data row, never a task failure)")
    p.add_argument("--config", default=None,
                   help="config.json path (S11: reference-compatible keys incl. "
                        "ocr_language/ocr_psm/ocr_oem; odd-kernel coercion applied)")
    p.add_argument("--master", default=None, help="master (default: spark-submit's, else local[*])")
    p.add_argument("--finalize", action="store_true",
                   help="after all chunks complete, write numbered+named output")
    p.add_argument("--export-xlsx", default=None, metavar="PATH",
                   help="with --finalize: also write the styled XLSX results "
                        "workbook (the reference's export artifact, "
                        "pdf_processor_app.py:1023-1122) via the from-scratch "
                        "stdlib OOXML writer")
    args = p.parse_args(argv)
    if args.export_xlsx and not args.finalize:
        # a silently ignored export is worse than a crash: the workbook
        # only exists after finalize assembles the named output
        p.error("--export-xlsx requires --finalize")

    from archvisier_spark.kernel.config import load_settings
    from archvisier_spark.session import get_spark
    from archvisier_spark.corpus import corpus_df
    from archvisier_spark.pipeline.lineage import (
        STATUS_OK, finalize_names, lineage_report, run_resumable,
    )

    if args.config is not None and not Path(args.config).exists():
        # fail fast: a typo'd --config path silently disabling auto
        # language detection (and every other knob) is worse than a crash
        p.error(f"--config file not found: {args.config}")
    settings = load_settings(args.config)
    # CLI --language overrides the config file; neither → "auto" (the
    # two-pass per-page decision, kernel.document.ocr_page_auto)
    language = args.language or (
        settings.ocr_language if args.config else "auto"
    )

    spark = get_spark(master=args.master, app_name="archvisier_extract")
    # job ids are sequential per context and the tracker keeps the newest,
    # so the id span counts this invocation's jobs past the retention limit
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(), default=-1)
    docs = (
        corpus_df(spark, args.synthesize, skew_every=100, skew_factor=500)
        if args.synthesize is not None
        else spark.read.parquet(args.input)
    )

    processed = run_resumable(
        spark,
        docs,
        args.output,
        args.checkpoint,
        n_chunks=args.n_chunks,
        max_chunks_per_run=args.max_chunks_per_run,
        language=language,
        work_mode=args.work_mode,
        ocr_mode=args.ocr_mode,
    )
    # one read of the checkpoint for the whole report: the latest row per
    # chunk gives the done set and the documents it holds
    lineage = lineage_report(spark, args.checkpoint).select(
        "chunk_id", "status", "n_docs", "run_id").collect()
    done = {r["chunk_id"] for r in lineage if r["status"] == STATUS_OK}
    report = {
        "chunks_processed_this_run": processed,
        "chunks_complete": len(done),
        "chunks_total": args.n_chunks,
    }

    if args.finalize and len(done) == args.n_chunks:
        named_path = args.output.rstrip("/") + "_named"
        # the latest run that wrote a chunk: the named output is a pure
        # function of the chunk output, so it is current if it was
        # finalized after that run, in this work mode, at this path
        state = {"run_id": max(r["run_id"] for r in lineage),
                 "work_mode": args.work_mode, "named": named_path}
        marker = _read_marker(spark, args.checkpoint)
        fs, named_hpath = _hadoop_path(spark, named_path)
        if (marker is not None and {k: marker.get(k) for k in state} == state
                and fs.exists(named_hpath)):
            report["finalized_rows"] = marker["rows"]
        else:
            named = finalize_names(spark, args.output, work_mode=args.work_mode)
            named.write.mode("overwrite").parquet(named_path)
            report["finalized_rows"] = spark.read.parquet(named_path).count()
            _write_marker(spark, args.checkpoint,
                          {**state, "rows": report["finalized_rows"]})
        if args.export_xlsx:
            from archvisier_spark.pipeline.training import export_results_xlsx

            export_results_xlsx(spark.read.parquet(named_path), args.export_xlsx)
            report["xlsx"] = args.export_xlsx
    elif args.export_xlsx:
        # --finalize given but chunks incomplete this run: say so in the
        # report instead of silently writing nothing
        report["xlsx_skipped"] = (
            f"chunks incomplete ({len(done)}/{args.n_chunks}) — "
            "re-run to finish and export"
        )

    report["lineage_docs"] = sum(r["n_docs"] for r in lineage)
    report["spark_jobs"] = max(tracker.getJobIdsForGroup(), default=-1) - last_job
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    # invoked as a file path (python archvisier_spark/job.py …): the script
    # dir, not the repo root, is on sys.path — add the package's parent so
    # the engine imports resolve (spark-submit --py-files does this via the
    # shipped zip)
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
