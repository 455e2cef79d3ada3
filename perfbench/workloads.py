"""The benchmark's three workloads.

Each workload has the same steps, called by ``run.py``:

* ``prepare``   make the seeded inputs (cached under ``.work/cache``)
  before the JVM starts;
* ``warm_pass`` one untimed pass over the inputs that brings the JVM to
  steady state and keeps what ``check`` needs;
* ``run_pass``  one timed closed-loop iteration; every output column goes
  to a noop-format sink or to disk, never through ``.count()``;
* ``check``     correctness of the outputs, outside the timed region;
* ``layers``    the traced run's per-layer probes;
* ``breakdown`` pass time split by layer, for the traced run's summary.
"""

from __future__ import annotations

import os
import shutil
import time

import corpora
from launch import CACHE, OUT, cores
from tracing import Tracer, median

# sizes: a pass must be short enough that a run holds several of them
EXTRACT_DOCS = 2000
JOB_DOCS = 2000
JOB_CHUNKS = 16
OPS_SF = 0.1
SKEW_EVERY, SKEW_FACTOR = 100, 500
DOC_COLS = ["url", "warc_ts", "html", "lang"]
OPS_QUERIES = (
    "tpch_pricing_summary",
    "tpch_nation_revenue",
    "tpch_top3_orders_per_customer",
    "text_quality_scores",
    "dedup_minhash_lsh",
    "dedup_simhash_buckets",
    "sim_cosine_topk",
    "events_hourly_counts",
    "cascade_metadata",
    "sim_ivf_topk",
)
OPS_TABLES = ("lineitem", "orders", "customer", "supplier", "nation", "region",
              "documents", "events", "embeddings")


_NO_TRACE = Tracer("warm", enabled=False)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cached(path: str, build) -> str:
    """Build ``path`` once; a half-written build is never reused."""
    if not os.path.exists(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


# --- per-layer metric names (every traced run reports all of them) -------

# (name, unit, better); times and sizes are better lower, rates and
# counts of useful work higher
KERNEL_METRICS = (
    ("kernel.sniff_s", "s", "lower"), ("kernel.pdf_s", "s", "lower"),
    ("kernel.html_s", "s", "lower"), ("kernel.pdf_parse_s", "s", "lower"),
    ("kernel.repair_s", "s", "lower"), ("kernel.cascade_s", "s", "lower"),
    ("kernel.spans_s", "s", "lower"), ("kernel.naming_s", "s", "lower"),
    ("kernel.docs_pdf", "count", "higher"), ("kernel.docs_html", "count", "higher"),
    ("kernel.payload_mb", "MB", "lower"), ("kernel.html_fast_frac", "frac", "higher"),
    ("kernel.ideal_docs_per_s", "1/s", "higher"),
)
LAYER_METRICS = (
    ("session.start_s", "s", "lower"), ("session.restart_s", "s", "lower"),
    ("scan.s", "s", "lower"), ("scan.tasks", "count", "lower"),
    ("scan.nonempty_tasks", "count", "higher"), ("transport.s", "s", "lower"),
    *KERNEL_METRICS,
    ("extract.s", "s", "lower"), ("extract.tasks", "count", "higher"),
    ("extract.task_max_over_median", "ratio", "lower"),
    ("numbering.prepass_s", "s", "lower"), ("finalize.s", "s", "lower"),
    ("lineage.run1_s", "s", "lower"), ("lineage.run2_s", "s", "lower"),
    ("lineage.chunks_skipped", "count", "higher"),
    ("lineage.files_written", "count", "lower"), ("lineage.bytes_written", "bytes", "lower"),
    ("finalize.files_read", "count", "lower"),
    *[(f"ops.{q}.{m}", u, "lower") for q in OPS_QUERIES
      for m, u in (("s", "s"), ("tasks", "count"), ("shuffle_bytes", "bytes"),
                   ("task_max_over_median", "ratio"))],
    ("proc.peak_rss_mb", "MB", "lower"),
    ("trace.run_s_untraced", "s", "lower"), ("trace.run_s_traced", "s", "lower"),
    ("trace.overhead_frac", "frac", "lower"), ("layer.largest_share", "frac", "lower"),
)


# --- shared pieces -------------------------------------------------------

def fork_workers(spark) -> None:
    """The set-up warm-up: one task per core, each importing the kernel
    and the extraction pipeline, so every Python worker is forked before a
    pass and no kernel memo holds a document of the pass."""
    n = cores()

    def imports(batches):
        import archvisier_spark.pipeline.extract  # noqa: F401

        yield from batches

    noop(spark.range(0, n, 1, n).mapInArrow(imports, "id long"))


def _extraction_probes(spark, tracer, docs, reps: int = 3) -> dict:
    """scan / transport / extract, each timed from outside with a noop sink
    over the same input columns."""
    from archvisier_spark.pipeline.extract import extract_documents

    cols = docs.select(*DOC_COLS)
    for _ in range(reps):
        with tracer.span("scan"):
            noop(cols)
        with tracer.span("transport"):
            noop(cols.mapInArrow(lambda it: it, cols.schema))
    with tracer.span("extract"):
        noop(extract_documents(docs))
    scan = median(tracer.durations("scan"))
    return {"scan.s": scan,
            "transport.s": max(median(tracer.durations("transport")) - scan, 0.0),
            "extract.s": median(tracer.durations("extract"))}


def kernel_layer(corpus_path: str) -> dict:
    """The kernel on the same documents in this process, no Spark: each
    phase is timed by wrapping the public function the orchestrator calls."""
    import pyarrow.parquet as pq

    import archvisier_spark.kernel.document as document
    from archvisier_spark.kernel.cascade import extract_info_from_text
    from archvisier_spark.kernel.charset import decode_payload
    from archvisier_spark.kernel.html_extract import html_blocks_fast
    from archvisier_spark.kernel.naming import filename_for
    from archvisier_spark.pipeline.extract import info_spans

    spent = {"sniff": 0.0, "pdf_parse": 0.0, "repair": 0.0}
    wrapped = {"sniff_format": "sniff", "pdf_page_texts": "pdf_parse",
               "correct_text": "repair"}
    originals = {fn: getattr(document, fn) for fn in wrapped}

    def timed(fn, key):
        def call(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                spent[key] += time.perf_counter() - t0
        return call

    table = pq.read_table(corpus_path, columns=["url", "html"])
    urls = table.column("url").to_pylist()
    payloads = table.column("html").to_pylist()
    lp = {u: k + 1 for k, u in enumerate(sorted(urls))}
    t = {"pdf": 0.0, "html": 0.0, "cascade": 0.0, "spans": 0.0, "naming": 0.0}
    n = {"pdf": 0, "html": 0}
    for fn, key in wrapped.items():
        setattr(document, fn, timed(originals[fn], key))
    try:
        for url, payload in zip(urls, payloads):
            t0 = time.perf_counter()
            text, _, fmt = document.extract_document_text(payload, "auto")
            t1 = time.perf_counter()
            info = extract_info_from_text(text, url, "KP", "")
            t2 = time.perf_counter()
            info_spans(text, info)
            t3 = time.perf_counter()
            filename_for(info, lp[url])
            t4 = time.perf_counter()
            if fmt in n:
                t[fmt] += t1 - t0
                n[fmt] += 1
            t["cascade"] += t2 - t1
            t["spans"] += t3 - t2
            t["naming"] += t4 - t3
    finally:
        for fn, orig in originals.items():
            setattr(document, fn, orig)
    fast = sum(html_blocks_fast(decode_payload(p)) is not None
               for p in payloads if document.sniff_format(p) == "html")
    total = sum(t.values())
    return {
        "kernel.sniff_s": spent["sniff"], "kernel.pdf_s": t["pdf"],
        "kernel.html_s": t["html"], "kernel.pdf_parse_s": spent["pdf_parse"],
        "kernel.repair_s": spent["repair"], "kernel.cascade_s": t["cascade"],
        "kernel.spans_s": t["spans"], "kernel.naming_s": t["naming"],
        "kernel.docs_pdf": n["pdf"], "kernel.docs_html": n["html"],
        "kernel.payload_mb": sum(len(p) for p in payloads) / 1e6,
        "kernel.html_fast_frac": fast / max(n["html"], 1),
        "kernel.ideal_docs_per_s": len(urls) / total * cores() if total else 0.0,
    }


NAMED_COLS = ["url", "extracted_text", "lp", "new_name", "sygnatura_sprawy",
              "numer_dokumentu", "nadawca_odbiorca", "typ_dokumentu", "w_sprawie"]


def check_named(rows: list[dict], corpus_path: str) -> int:
    """Documents whose named output is wrong: text not byte-equal to the
    corpus ``text``, ``lp`` not the 1-based rank in url order, ``new_name``
    not ``filename_for`` of the row's fields, or missing / duplicated."""
    import pyarrow.parquet as pq

    from archvisier_spark.kernel.naming import filename_for

    t = pq.read_table(corpus_path, columns=["url", "text"])
    expected = dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
    rank = {u: k + 1 for k, u in enumerate(sorted(expected))}
    seen: dict[str, int] = {}
    bad = set()
    for r in rows:
        u = r["url"]
        seen[u] = seen.get(u, 0) + 1
        if (u not in expected or r["extracted_text"] != expected[u] or r["lp"] != rank[u]
                or r["new_name"] != filename_for(r, r["lp"])):
            bad.add(u)
    bad.update(u for u, c in seen.items() if c > 1)
    bad.update(u for u in expected if u not in seen)
    return len(bad)


def extraction_breakdown(m: dict) -> dict:
    ext = m["extract.s"]
    return {"scan": m["scan.s"], "transport": m["transport.s"],
            "kernel (in Spark)": max(ext - m["scan.s"] - m["transport.s"], 0.0)}


# --- extract_distinct ----------------------------------------------------

class ExtractDistinct:
    """read -> extract_documents -> with_new_names(keys_df=docs) -> noop,
    on the distinct-vocabulary corpus."""

    name = "extract_distinct"

    def prepare(self, seed: int) -> dict:
        parts = 4 * cores()
        self.seed = seed
        self.corpus = _cached(
            os.path.join(CACHE, f"distinct_n{EXTRACT_DOCS}_p{parts}_s{seed}.parquet"),
            lambda p: corpora.write_distinct(p, EXTRACT_DOCS, seed, parts, cores()))
        self.ops_per_pass = EXTRACT_DOCS
        return {"docs": EXTRACT_DOCS, "files": parts}

    def named(self, spark):
        from archvisier_spark.pipeline.extract import extract_documents, with_new_names

        docs = spark.read.parquet(self.corpus)
        return with_new_names(extract_documents(docs), work_mode="KP", keys_df=docs)

    def warm_pass(self, spark) -> None:
        self.rows = [r.asDict() for r in self.named(spark).select(*NAMED_COLS).collect()]

    def run_pass(self, spark, tracer) -> None:
        with tracer.span("numbering.prepass"):
            named = self.named(spark)
        with tracer.span("finalize"):
            noop(named)

    def check(self, spark) -> tuple[int, int]:
        return EXTRACT_DOCS, check_named(self.rows, self.corpus)

    def layers(self, spark, tracer) -> dict:
        docs = spark.read.parquet(self.corpus)
        out = _extraction_probes(spark, tracer, docs)
        out["numbering.prepass_s"] = median(tracer.durations("numbering.prepass"))
        out["finalize.s"] = median(tracer.durations("finalize"))
        out.update(kernel_layer(self.corpus))
        # the job's lineage layer once on these documents, checked like
        # job_resume's output
        base = os.path.join(OUT, "lineage-probe")
        shutil.rmtree(base, ignore_errors=True)
        lin_out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        out.update(lineage_layer(tracer, lin_out, ckpt,
                                 resume_twice(spark, tracer, docs, lin_out, ckpt)))
        ops = ops_control(spark, tracer, self.seed)
        queries, wrong = ops.pop("_checked")
        out.update(ops)
        out["_checked"] = (queries + EXTRACT_DOCS, wrong + min(
            lineage_mismatches(spark, lin_out, ckpt), EXTRACT_DOCS))
        return out

    def breakdown(self, m: dict) -> dict:
        return {**extraction_breakdown(m),
                "numbering prepass": m["numbering.prepass_s"],
                "number join + naming + sink": max(m["finalize.s"] - m["extract.s"], 0.0)}


# --- job_resume ----------------------------------------------------------

def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def resume_twice(spark, tracer, docs, out: str, ckpt: str) -> int:
    """``run_resumable`` capped at half the chunks, then resumed; returns
    how many chunks the second call skipped."""
    from archvisier_spark.pipeline.lineage import run_resumable

    with tracer.span("lineage.run1"):
        first = run_resumable(spark, docs, out, ckpt, n_chunks=JOB_CHUNKS,
                              max_chunks_per_run=JOB_CHUNKS // 2)
    with tracer.span("lineage.run2"):
        second = run_resumable(spark, docs, out, ckpt, n_chunks=JOB_CHUNKS)
    if sorted(first + second) != list(range(JOB_CHUNKS)):
        raise RuntimeError(f"resume processed chunks {first} then {second}")
    return JOB_CHUNKS - len(second)


def lineage_mismatches(spark, out: str, ckpt: str) -> int:
    """Documents in chunks whose lineage row is missing, not ``ok``, or
    whose checksum and count differ from the ones recomputed from the
    chunk output."""
    from pyspark.sql import functions as F

    from archvisier_spark.pipeline.lineage import STATUS_OK, lineage_report

    stored = {r["chunk_id"]: r for r in lineage_report(spark, ckpt).collect()}
    recomputed = {r["chunk_id"]: r for r in spark.read.parquet(out).groupBy("chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.expr("bit_xor(xxhash64(url, extracted_text))").alias("checksum")).collect()}
    bad = 0
    for c in range(JOB_CHUNKS):
        s, r = stored.get(c), recomputed.get(c)
        if s is None or r is None or s["status"] != STATUS_OK or (
                s["checksum"], s["n_docs"]) != (r["checksum"], r["n_docs"]):
            bad += r["n_docs"] if r is not None else 1
    return bad


def lineage_layer(tracer, out: str, ckpt: str, skipped: int) -> dict:
    n_out, b_out = _files(out)
    n_ck, b_ck = _files(ckpt)
    return {"lineage.run1_s": median(tracer.durations("lineage.run1")),
            "lineage.run2_s": median(tracer.durations("lineage.run2")),
            "lineage.chunks_skipped": skipped,
            "lineage.files_written": n_out + n_ck,
            "lineage.bytes_written": b_out + b_ck,
            "finalize.files_read": n_out}


class JobResume:
    """``job.py --finalize`` without the CLI, over the north-rule corpus,
    split over two runs: the first stops after half the chunks, the second
    resumes."""

    name = "job_resume"

    def prepare(self, seed: int) -> dict:
        parts = cores()
        self.seed = seed
        self.corpus = _cached(
            os.path.join(CACHE, f"north_n{JOB_DOCS}_p{parts}_s{seed}.parquet"),
            lambda p: corpora.write_north(p, JOB_DOCS, seed, parts, SKEW_EVERY, SKEW_FACTOR))
        self.ops_per_pass = JOB_DOCS
        self.base = os.path.join(OUT, "job")
        shutil.rmtree(self.base, ignore_errors=True)
        self.k = 0
        return {"docs": JOB_DOCS, "files": parts, "chunks": JOB_CHUNKS}

    def before_pass(self) -> None:
        """Fresh output dirs for the next pass; the last pass's stay for
        ``check``."""
        shutil.rmtree(os.path.join(self.base, f"pass{self.k - 1}"), ignore_errors=True)
        self.k += 1

    def _paths(self):
        d = os.path.join(self.base, f"pass{self.k - 1}")
        return os.path.join(d, "out"), os.path.join(d, "ckpt"), os.path.join(d, "out_named")

    def warm_pass(self, spark) -> None:
        self.before_pass()
        self.run_pass(spark, _NO_TRACE)

    def run_pass(self, spark, tracer) -> None:
        from archvisier_spark.pipeline.lineage import finalize_names

        out, ckpt, named_path = self._paths()
        self.skipped = resume_twice(spark, tracer, spark.read.parquet(self.corpus), out, ckpt)
        with tracer.span("numbering.prepass"):
            named = finalize_names(spark, out)
        with tracer.span("finalize"):
            named.write.mode("overwrite").parquet(named_path)

    def check(self, spark) -> tuple[int, int]:
        """The last timed pass's files: the named output, and the lineage
        checksums recomputed from the chunk output."""
        out, ckpt, named_path = self._paths()
        rows = [r.asDict() for r in spark.read.parquet(named_path).select(*NAMED_COLS).collect()]
        bad = check_named(rows, self.corpus) + lineage_mismatches(spark, out, ckpt)
        return JOB_DOCS, min(bad, JOB_DOCS)

    def layers(self, spark, tracer) -> dict:
        out, ckpt, _ = self._paths()
        m = lineage_layer(tracer, out, ckpt, self.skipped)
        m["numbering.prepass_s"] = median(tracer.durations("numbering.prepass"))
        m["finalize.s"] = median(tracer.durations("finalize"))
        m.update(_extraction_probes(spark, tracer, spark.read.parquet(self.corpus)))
        m.update(kernel_layer(self.corpus))
        m.update(ops_control(spark, tracer, self.seed))
        return m

    def breakdown(self, m: dict) -> dict:
        runs = m["lineage.run1_s"] + m["lineage.run2_s"]
        return {**extraction_breakdown(m),
                "lineage (write + bookkeeping)": max(runs - m["extract.s"], 0.0),
                "numbering prepass": m["numbering.prepass_s"],
                "finalize write": m["finalize.s"]}


# --- ops_mix -------------------------------------------------------------

class OpsMix:
    """Ten operator queries back to back on seeded relational tables."""

    name = "ops_mix"

    def prepare(self, seed: int) -> dict:
        import gen_ops

        self.data = _cached(os.path.join(CACHE, f"ops_sf{OPS_SF}_s{seed}"),
                            lambda p: gen_ops.write(p, OPS_SF, seed))
        self.ops_per_pass = len(OPS_QUERIES)
        return {"sf": OPS_SF, "queries": len(OPS_QUERIES)}

    def warm_pass(self, spark, tracer=_NO_TRACE) -> None:
        from archvisier_spark.ops import all_queries

        queries = all_queries()
        self.results = {}
        for q in OPS_QUERIES:
            with tracer.span(f"ops.{q}"):
                df = queries[q](spark, self.data)
                self.results[q] = (df.columns, [r.asDict() for r in df.collect()])

    def run_pass(self, spark, tracer) -> None:
        from archvisier_spark.ops import all_queries

        queries = all_queries()
        for q in OPS_QUERIES:
            with tracer.span(f"ops.{q}"):
                noop(queries[q](spark, self.data))

    def oracles(self, fast_minhash: bool = True) -> dict[str, str]:
        """DuckDB oracle per query; the literal-bearing ones are generated
        from this workload's tables.  The repository's ``dedup_minhash_lsh``
        oracle compares every pair of its 2,000 documents (over three
        minutes in DuckDB on a 4-core box); by default it is replaced by
        :data:`MINHASH_ORACLE`, which finds the same pairs through shared
        shingles (``selftest`` checks that both agree)."""
        from archvisier_spark.ops import cascade_ops, dedup, events, simsearch, textops, tpch

        found = {}
        for mod in (tpch, textops, dedup, simsearch, events, cascade_ops):
            for q in OPS_QUERIES:
                if q in mod.ORACLES:
                    sql = mod.ORACLES[q]
                    found[q] = sql(self.data) if callable(sql) else sql
        if fast_minhash:
            found["dedup_minhash_lsh"] = MINHASH_ORACLE
        return found

    def oracle_rows(self, oracles: dict[str, str]) -> dict[str, tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in OPS_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            out = {}
            for q, sql in oracles.items():
                res = con.sql(sql)
                out[q] = (res.columns, [dict(zip(res.columns, row)) for row in res.fetchall()])
            return out
        finally:
            con.close()

    def check(self, spark) -> tuple[int, int]:
        """The warm pass's results against the DuckDB oracles."""
        want = self.oracle_rows(self.oracles())
        bad = 0
        for q in OPS_QUERIES:
            cols, rows = self.results[q]
            if q not in want or sorted(cols) != sorted(want[q][0]) or (
                    _normalise(rows) != _normalise(want[q][1])):
                bad += 1
        return len(OPS_QUERIES), bad

    def layers(self, spark, tracer) -> dict:
        from archvisier_spark.ops.io_util import read_table

        m = {f"ops.{q}.s": median(tracer.durations(f"ops.{q}")) for q in OPS_QUERIES}
        for _ in range(3):
            with tracer.span("scan"):
                for t in OPS_TABLES:
                    noop(read_table(spark, self.data, t))
        m["scan.s"] = median(tracer.durations("scan"))
        return m

    def breakdown(self, m: dict) -> dict:
        return {q: m[f"ops.{q}.s"] for q in OPS_QUERIES}


def ops_control(spark, tracer, seed: int) -> dict:
    """The ``ops_mix`` queries as the kernel-idle control of a traced
    extraction run: one traced pass that collects each result (the first
    run of each query in this JVM), checked against the oracles.
    ``_checked`` is (queries, mismatches)."""
    ops = OpsMix()
    ops.prepare(seed)
    with tracer.span("ops_control"):
        ops.warm_pass(spark, tracer)
    m = {f"ops.{q}.s": median(tracer.durations(f"ops.{q}")) for q in OPS_QUERIES}
    m["_checked"] = ops.check(spark)
    return m


# The repository's dedup_minhash_lsh oracle, rewritten as a join on shared
# shingles: both take the distinct 3-token shingle sets of documents with
# doc_id < 2000 and keep the pairs whose Jaccard similarity, rounded to four
# places, is at least 0.5.  A pair with no shared shingle has similarity 0,
# and |A u B| = |A| + |B| - |A n B| for distinct sets.
MINHASH_ORACLE = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(t[i:i+2], ' ')
           FOR i IN range(1, greatest(len(t) - 2, 1) + 1)
         ]) AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE doc_id < 2000)
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(k::DOUBLE / (len(sa.sh) + len(sb.sh) - k), 4) AS jaccard
FROM inter JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE round(k::DOUBLE / (len(sa.sh) + len(sb.sh) - k), 4) >= 0.5
"""


def _normalise(rows: list[dict]) -> list:
    """Order-insensitive rows, floats rounded to 6 places, as
    ``tests/test_driver_contract.py`` compares them."""
    import math

    out = []
    for row in rows:
        vals = []
        for c in sorted(row):
            v = row[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 6)
            vals.append((c, str(v)))
        out.append(tuple(vals))
    return sorted(out)


WORKLOADS = {w.name: w for w in (JobResume, ExtractDistinct, OpsMix)}
