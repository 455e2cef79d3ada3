"""End-to-end test of the spark-submit entrypoint (resumable job CLI)."""

import json
import subprocess
import sys

import pytest


def test_job_cli_synthesize_resume_finalize(tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    base = [
        sys.executable, "archvisier_spark/job.py",
        "--synthesize", "80",
        "--output", out,
        "--checkpoint", ckpt,
        "--n-chunks", "6",
        "--master", "local[4]",
    ]
    # first invocation dies after 2 chunks (simulated bounded run)
    r1 = subprocess.run(base + ["--max-chunks-per-run", "2"],
                        capture_output=True, text=True, timeout=300)
    assert r1.returncode == 0, r1.stderr[-2000:]
    rep1 = json.loads([l for l in r1.stdout.splitlines() if l.startswith("{")][-1])
    assert rep1["chunks_complete"] == 2
    assert rep1["spark_jobs"] > 0

    # second invocation finishes the rest, finalizes, and exports XLSX
    xlsx = str(tmp_path / "results.xlsx")
    r2 = subprocess.run(base + ["--finalize", "--export-xlsx", xlsx],
                        capture_output=True, text=True, timeout=300)
    assert r2.returncode == 0, r2.stderr[-2000:]
    rep2 = json.loads([l for l in r2.stdout.splitlines() if l.startswith("{")][-1])
    assert rep2["chunks_complete"] == 6
    assert rep2["lineage_docs"] == 80
    assert rep2["finalized_rows"] == 80
    assert rep2["spark_jobs"] > rep1["spark_jobs"]  # finalize adds jobs

    # a no-op resume reports the same state; only the work done differs
    r3 = subprocess.run(base + ["--finalize", "--export-xlsx", xlsx],
                        capture_output=True, text=True, timeout=300)
    assert r3.returncode == 0, r3.stderr[-2000:]
    rep3 = json.loads([l for l in r3.stdout.splitlines() if l.startswith("{")][-1])
    assert rep3["chunks_processed_this_run"] == []
    varying = ("chunks_processed_this_run", "spark_jobs")
    assert ({k: v for k, v in rep3.items() if k not in varying}
            == {k: v for k, v in rep2.items() if k not in varying})

    # the styled workbook is a real OOXML zip with 80 data rows
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(xlsx) as z:
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    assert len(sheet.find("m:sheetData", ns)) == 81  # header + 80 rows


def test_job_cli_noop_finalize_skips_the_rewrite(tmp_path):
    """A resume that ran no chunk since the last finalize leaves the named
    output as it is: it reports the recorded row count from the marker
    beside the checkpoint and runs about the jobs of a plain no-op resume
    (5), not a second finalize.  With the named output gone, it finalizes
    again."""
    import shutil

    out = str(tmp_path / "out")
    base = [
        sys.executable, "archvisier_spark/job.py",
        "--synthesize", "200",
        "--output", out,
        "--checkpoint", str(tmp_path / "ckpt"),
        "--n-chunks", "4",
        "--master", "local[4]",
        "--finalize",
    ]

    def run():
        r = subprocess.run(base, capture_output=True, text=True, timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])

    first = run()
    assert first["finalized_rows"] == 200
    named = tmp_path / "out_named"
    written = sorted(p.name for p in named.iterdir())

    noop = run()
    assert noop["chunks_processed_this_run"] == []
    assert noop["finalized_rows"] == 200
    assert noop["spark_jobs"] <= 6, noop
    assert sorted(p.name for p in named.iterdir()) == written

    shutil.rmtree(named)
    again = run()
    assert again["finalized_rows"] == 200
    assert again["spark_jobs"] > 6, again
    assert named.is_dir()


def test_job_cli_missing_config_fails_fast(tmp_path):
    """A typo'd --config path must error, not silently fall back to
    defaults and disable auto language detection (round-2 ADVICE)."""
    r = subprocess.run(
        [sys.executable, "archvisier_spark/job.py",
         "--synthesize", "5",
         "--output", str(tmp_path / "o"),
         "--checkpoint", str(tmp_path / "c"),
         "--config", str(tmp_path / "nope.json"),
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert "not found" in r.stderr


@pytest.mark.parametrize("flag, value", [
    ("--synthesize", "0"), ("--n-chunks", "0"), ("--max-chunks-per-run", "-1"),
])
def test_job_cli_refuses_counts_below_one(tmp_path, flag, value):
    """A count below 1 exits with argparse's code 2 before Spark starts.
    ``--synthesize 0`` once fell into the ``--input`` branch and read a
    null path, ``--n-chunks 0`` wrote nothing and failed on the
    checkpoint, and ``--max-chunks-per-run -1`` ran all chunks but the
    last and reported success."""
    counts = {"--synthesize": "5", "--n-chunks": "4", flag: value}
    r = subprocess.run(
        [sys.executable, "archvisier_spark/job.py",
         "--output", str(tmp_path / "o"),
         "--checkpoint", str(tmp_path / "c"),
         *(arg for pair in counts.items() for arg in pair)],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2, r.stderr[-2000:]
    assert flag in r.stderr
    assert not (tmp_path / "o").exists()


def test_job_cli_ocr_mode_raster_errors_stay_data(tmp_path):
    """--ocr-mode raster without binaries (this sandbox): every PDF chunk
    completes with BŁĄD TECHNICZNY OCR data rows — no task failures, the
    job exits 0, lineage counts every doc (the fail-visible contract,
    processing/ocr.py:232-237)."""
    out = str(tmp_path / "out")
    r = subprocess.run(
        [sys.executable, "archvisier_spark/job.py",
         "--synthesize", "30",
         "--output", out,
         "--checkpoint", str(tmp_path / "ckpt"),
         "--n-chunks", "3",
         "--ocr-mode", "raster",
         "--master", "local[4]"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads([l for l in r.stdout.splitlines() if l.startswith("{")][-1])
    assert rep["chunks_complete"] == 3
    assert rep["lineage_docs"] == 30

    import duckdb

    rows = duckdb.sql(
        f"SELECT format, extracted_text FROM '{out}/*/*.parquet'"
    ).fetchall()
    assert len(rows) == 30
    pdf_rows = [t for f, t in rows if f == "pdf"]
    assert pdf_rows, "corpus should contain PDF rows"
    assert all(t.startswith("BŁĄD TECHNICZNY OCR:") for t in pdf_rows)
    # non-PDF rows are untouched by the mode
    assert all(not t.startswith("BŁĄD") for f, t in rows if f != "pdf")
