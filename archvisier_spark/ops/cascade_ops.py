"""Kernel-backed operators over the driver tables.

The cascade runs the byte-parity kernel in Python on the extraction
pipeline's own ``mapInArrow`` metadata stage
(:func:`~archvisier_spark.pipeline.extract.with_metadata`) — its
Python-``re`` semantics deliberately do NOT get translated to JVM regex
(SURVEY.md §7 "regex engine parity"); the other operators are JVM
built-ins.  Where exact SQL parity IS expressible
(C-multiset token Jaccard), a computed oracle is provided; the cascade itself gets a PINNED-LITERAL oracle (the expected
output over the deterministic corpus, computed driver-side with the same
byte-parity kernel and embedded as VALUES — see
:func:`_cascade_metadata_oracle_sql`), with byte-identity additionally
pinned by the differential suite + golden tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from archvisier_spark.kernel.cascade import extract_info_from_text
from archvisier_spark.pipeline.extract import with_metadata

# q_cascade_metadata's columns after doc_id
INFO_COLUMNS = ("data", "nadawca_odbiorca", "w_sprawie", "numer_dokumentu",
                "sygnatura_sprawy", "typ_dokumentu", "doc_status")


# Deterministic entity rules over the synthetic corpus vocabulary — the
# step-1 NER tier (processing_worker.py:186-202) exercised with a REAL
# (non-empty) provider at scale; label grouping and document-order joins
# are live in every cascade_metadata row that contains these phrases.
DOC_ENTITY_RULES = (
    ("DATA", "data"),
    ("ORGANIZACJA", "customer"),
    ("TYTUL_PISMA", "spark window"),
    ("TYP_DOKUMENTU", "merge"),
)


def q_cascade_metadata(spark, sf_dir):
    """Full metadata cascade over documents.text.  Value-oracled via the
    pinned-literal family (:func:`_cascade_metadata_oracle_sql`);
    byte-identity is additionally pinned by the differential suite."""
    # no repartition: the cascade runs straight on scan splits (map-only) —
    # shuffling a payload column before a per-row UDF is the anti-pattern
    # the extraction pipeline's BENCH analysis flagged.  Re-measured in
    # r07: at this slice size (500 docs) a 32-way fan-out costs more in
    # shuffle + per-task Python overhead than the single-task cascade
    # (count 0.14→0.23 s, noop 0.36→0.61 s at sf1.0) — left map-only.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 500)
    return with_metadata(
        docs.select("doc_id", F.lit("").alias("url"),
                    F.coalesce("text", F.lit("")).alias("extracted_text")),
        entity_rules=DOC_ENTITY_RULES,
    ).select("doc_id", *INFO_COLUMNS)


# FNV-1a 64-bit offset basis, reinterpreted as signed i64 (the seed of the
# rolling fold below; the byte-wise FNV body is replaced by JVM hashing).
_FNV_OFFSET_I64 = -3750763034362895579


def fingerprint_col(text_col) -> "F.Column":
    """Order-dependent rolling fingerprint of the token stream — pure
    built-ins, whole-stage codegen, zero Python.

    Each token is hashed once with ``xxhash64`` (same strategy as
    minhash_signatures); the stream folds left with rotate-xor
    (``acc' = rotl5(acc) ^ h``), so permuted token order changes the
    value — the rolling-hash property the per-byte FNV loop provided,
    at JVM speed."""
    toks = F.filter(F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit(""))
    token_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return F.aggregate(
        token_hashes,
        F.lit(_FNV_OFFSET_I64).cast("long"),
        lambda acc, h: F.shiftleft(acc, 5)
        .bitwiseOR(F.shiftrightunsigned(acc, 59))
        .bitwiseXOR(h),
    )


def q_fingerprints(spark, sf_dir):
    """Deterministic document fingerprint (rows-only; order sensitivity and
    determinism pinned by tests/test_ops_dedup.py)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 500)
    return docs.select("doc_id", fingerprint_col("text").alias("fingerprint"))


# --- K1 with full C-multiset semantics — exactly expressible in SQL ---

def q_token_similarity_c(spark, sf_dir):
    """C-kernel token Jaccard (multiset, round 6) over part-name pairs
    within a brand: intersection counts duplicate tokens of `a`
    individually; union adds b-tokens absent from a
    (native_c/token_similarity.c:56-72)."""
    # r07: the planner broadcasts one side of this self-join, so pair
    # evaluation runs on the PROBE side's partitions — and the part scan
    # is a single row group, i.e. ONE task did every interpreted
    # multiset-Jaccard comparison.  Repartition the probe side by its key
    # (guide §2.5 "one huge unsplittable file … repartition after the
    # read"); the pair set is unchanged.
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey", "p_brand", F.split(F.col("p_name"), r"\s+").alias("toks")
    )
    a = parts.repartition(
        spark.sparkContext.defaultParallelism, "p_partkey"
    ).alias("a")
    b = parts.alias("b")
    inter = F.size(F.filter(F.col("a.toks"), lambda t: F.array_contains(F.col("b.toks"), t)))
    union = F.size(F.col("a.toks")) + F.size(
        F.filter(F.col("b.toks"), lambda t: ~F.array_contains(F.col("a.toks"), t))
    )
    sim = F.when(union == 0, F.lit(0.0)).otherwise(F.round(inter / union, 6))
    return (
        a.join(b, (F.col("a.p_brand") == F.col("b.p_brand"))
               & (F.col("a.p_partkey") < F.col("b.p_partkey")))
        .select(
            F.col("a.p_partkey").alias("key_a"),
            F.col("b.p_partkey").alias("key_b"),
            sim.alias("token_sim"),
        )
        .filter(F.col("token_sim") >= 0.3)
    )


_TOKEN_SIM_C_SQL = """
WITH toks AS (
  SELECT p_partkey, p_brand, string_split_regex(p_name, '\\s+') AS toks FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CASE WHEN (len(a.toks) + len(list_filter(b.toks, t -> NOT list_contains(a.toks, t)))) = 0
            THEN 0.0
            ELSE round(len(list_filter(a.toks, t -> list_contains(b.toks, t)))::DOUBLE
                       / (len(a.toks) + len(list_filter(b.toks, t -> NOT list_contains(a.toks, t)))), 6)
       END AS token_sim
FROM toks a JOIN toks b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE CASE WHEN (len(a.toks) + len(list_filter(b.toks, t -> NOT list_contains(a.toks, t)))) = 0
           THEN 0.0
           ELSE round(len(list_filter(a.toks, t -> list_contains(b.toks, t)))::DOUBLE
                      / (len(a.toks) + len(list_filter(b.toks, t -> NOT list_contains(a.toks, t)))), 6)
      END >= 0.3
"""


# --- K4 fuzzy similarity (final-fallback form): 1 - lev/max(len) ---

def q_fuzzy_pairs(spark, sf_dir):
    """The reference's correction-matching kernel (context_analyzer.py:24-42
    final fallback) as a pair join.  Customer names share a fixed prefix,
    so the acceptance threshold here is 0.9 (≤1 differing char) and the
    result aggregates per segment — the reference's own 0.7 gate appears
    where it belongs, on the argmax join J3 (events_argmax_event models
    the argmax; the kernel's 0.7 literal is golden-tested)."""
    # r07: same probe-side fix as k1_token_similarity_c — the broadcast
    # self-join evaluates every pair on the probe side's partitions, and
    # the single-row-group customer scan made that ONE task running 22M
    # quadratic levenshteins (148 s at sf0.1 on local[32]).
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    a = cust.repartition(
        spark.sparkContext.defaultParallelism, "c_custkey"
    ).alias("a")
    b = cust.alias("b")
    sim = F.when(F.col("a.c_name") == F.col("b.c_name"), F.lit(1.0)).otherwise(
        F.round(
            1
            - F.levenshtein("a.c_name", "b.c_name")
            / F.greatest(F.length("a.c_name"), F.length("b.c_name")),
            6,
        )
    )
    return (
        a.join(
            b,
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(F.col("a.c_mktsegment").alias("segment"), sim.alias("fuzzy_sim"))
        .filter(F.col("fuzzy_sim") >= 0.9)
        .groupBy("segment")
        .agg(F.count("*").alias("n_close_pairs"),
             F.round(F.avg("fuzzy_sim"), 6).alias("avg_sim"))
    )


_FUZZY_PAIRS_SQL = """
WITH sims AS (
  SELECT a.c_mktsegment AS segment,
         CASE WHEN a.c_name = b.c_name THEN 1.0
              ELSE round(1 - levenshtein(a.c_name, b.c_name)::DOUBLE
                         / greatest(length(a.c_name), length(b.c_name)), 6)
         END AS fuzzy_sim
  FROM customer a JOIN customer b
    ON a.c_mktsegment = b.c_mktsegment AND a.c_custkey < b.c_custkey
)
SELECT segment, count(*) AS n_close_pairs, round(avg(fuzzy_sim), 6) AS avg_sim
FROM sims WHERE fuzzy_sim >= 0.9
GROUP BY segment
"""


# --- X12 filename sanitisation (ASCII \w scrub) ---

def q_sanitize_names(spark, sf_dir):
    """gui/pdf_processor_app.py:193 scrub as a built-in: Java regex \\w is
    ASCII by default, matching Python re.ASCII exactly (verified by the
    kernel golden test 'żółć.txt → ____.txt')."""
    parts = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_partkey") < 120)
    return parts.select(
        "p_partkey",
        F.regexp_replace(F.concat(F.col("p_name"), F.lit(".pdf")), r"[^\w.-]", "_").alias(
            "safe_name"
        ),
    )


_SANITIZE_SQL = """
SELECT p_partkey, regexp_replace(p_name || '.pdf', '[^\\w.-]', '_', 'g') AS safe_name
FROM part WHERE p_partkey < 120
"""


# --- X18-lite: first-occurrence character offsets (span contract, SQL form) ---

def q_first_occurrence_offsets(spark, sf_dir):
    """Literal-substring offset search (training_engine.py:48-56) in its
    SQL-expressible first-hit form: 1-based position of a needle in each
    document, 0 when absent.  The all-occurrences array stays kernel-side
    (cascade/spans) with rows-only checks."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 300)
    return docs.select(
        "doc_id",
        F.instr(F.col("text"), F.lit("data")).alias("pos_data"),
        F.instr(F.col("text"), F.lit("spark")).alias("pos_spark"),
        F.instr(F.col("text"), F.lit("merge")).alias("pos_merge"),
    )


_FIRST_OCCURRENCE_SQL = """
SELECT doc_id,
       strpos(text, 'data')  AS pos_data,
       strpos(text, 'spark') AS pos_spark,
       strpos(text, 'merge') AS pos_merge
FROM documents WHERE doc_id < 300
"""


# --- X18 full form: ALL non-overlapping occurrence spans, as built-ins ---

def _all_starts_col(text_col, needle: str):
    """0-based start offsets of every non-overlapping literal occurrence —
    find_all_occurrences (kernel/spans.py, training_engine.py:48-56)
    re-expressed as pure built-ins: split on the quoted literal, then a
    prefix-scan over segment lengths (``aggregate`` with an array
    accumulator).  Leftmost non-overlapping split semantics are exactly
    the kernel's advance-by-len(sub) loop."""
    L = len(needle)
    segs = F.split(text_col, r"\Q" + needle + r"\E", -1)
    return F.aggregate(
        F.slice(segs, 1, F.size(segs) - 1),
        F.struct(
            F.lit(0).cast("int").alias("pos"),
            F.array().cast("array<int>").alias("st"),
        ),
        lambda acc, seg: F.struct(
            (acc.pos + F.length(seg) + F.lit(L)).cast("int").alias("pos"),
            F.concat(acc.st, F.array((acc.pos + F.length(seg)).cast("int"))).alias("st"),
        ),
        lambda acc: acc.st,
    )


def q_all_occurrence_spans(spark, sf_dir):
    """X18 span contract in its FULL array form: every (start, end) span
    of each needle per document, emitted as canonical JSON so the value
    hash compares across engines (array representations differ between
    Spark/DuckDB pandas bridges; the JSON string is bytewise canonical).

    Matches kernel label_spans' per-needle output (end = start + len);
    the per-row Python ground truth is pinned in tests/test_ops_cascade
    spans test."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 300)
    d_starts = _all_starts_col(F.col("text"), "data")
    s_starts = _all_starts_col(F.col("text"), "spark")
    d_spans = F.transform(
        d_starts, lambda s: F.struct(s.alias("start"), (s + F.lit(4)).alias("end"))
    )
    return docs.select(
        "doc_id",
        F.to_json(d_spans).alias("spans_data"),
        F.size(d_starts).alias("n_data"),
        F.to_json(s_starts).alias("starts_spark"),
        F.size(s_starts).alias("n_spark"),
    )


_ALL_OCCURRENCE_SQL = """
WITH segs AS (
  SELECT doc_id,
         string_split(text, 'data')  AS sd,
         string_split(text, 'spark') AS ss
  FROM documents WHERE doc_id < 300
),
st AS (
  SELECT doc_id,
    [ (list_sum(list_transform(sd[1:i], x -> length(x))) + (i-1)*4)::INT
      FOR i IN range(1, len(sd)) ] AS d_starts,
    [ (list_sum(list_transform(ss[1:i], x -> length(x))) + (i-1)*5)::INT
      FOR i IN range(1, len(ss)) ] AS s_starts
  FROM segs
)
SELECT doc_id,
       to_json([{'start': x, 'end': x + 4} FOR x IN d_starts])::VARCHAR AS spans_data,
       len(d_starts) AS n_data,
       to_json(s_starts)::VARCHAR AS starts_spark,
       len(s_starts) AS n_spark
FROM st
"""


def _cascade_metadata_oracle_sql(sf_dir: str | None = None) -> str | None:
    """Full value oracle for cascade_metadata (round-4 verdict #2): the
    Python-``re`` cascade cannot be COMPUTED in DuckDB, but the driver
    corpus is deterministic — so the expected output is computed once,
    driver-side, with the byte-parity kernel in plain Python (no Spark)
    and pinned as VALUES literals.  The Spark side still does the real
    distributed work (Arrow batching, NER provider fan-out, schema/null
    handling); any kernel or plumbing divergence flips the row hash.
    Same literal-embedding family as extraction_roundtrip and the ANN
    plane oracles.  Lazy — never runs at import time (round-3 ADVICE:
    executors may re-import this module)."""
    import os

    from archvisier_spark.ops.oracle_env import driver_sf_dir

    path = os.path.join(sf_dir or driver_sf_dir(), "documents.parquet")
    if not os.path.exists(path):
        return None
    import duckdb

    from archvisier_spark.kernel.ner import RuleNer

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{path}' WHERE doc_id < 500 ORDER BY doc_id"
    ).fetchall()
    provider = RuleNer(DOC_ENTITY_RULES)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for doc_id, text in rows:
        info = extract_info_from_text(text or "", "", "KP", "",
                                      entity_provider=provider)
        vals.append(
            f"({int(doc_id)}, {q(info['data'])}, {q(info['nadawca_odbiorca'])}, "
            f"{q(info['w_sprawie'])}, {q(info['numer_dokumentu'])}, "
            f"{q(info['sygnatura_sprawy'])}, {q(info['typ_dokumentu'])}, "
            f"{q(info['status'])})"
        )
    return (
        "SELECT doc_id::BIGINT AS doc_id, data, nadawca_odbiorca, w_sprawie,\n"
        "       numer_dokumentu, sygnatura_sprawy, typ_dokumentu, doc_status\n"
        "FROM (VALUES\n" + ",\n".join(vals) + "\n"
        ") AS t(doc_id, data, nadawca_odbiorca, w_sprawie, numer_dokumentu,\n"
        "       sygnatura_sprawy, typ_dokumentu, doc_status)"
    )


QUERIES = {
    "cascade_metadata": q_cascade_metadata,
    "cascade_fingerprints": q_fingerprints,
    "k1_token_similarity_c": q_token_similarity_c,
    "k4_fuzzy_pairs": q_fuzzy_pairs,
    "x12_sanitize_names": q_sanitize_names,
    "x18_all_occurrences": q_all_occurrence_spans,
}

# x18_first_occurrence retired from the driver window in round 5 to make
# room for charset_transport_precedence (round-4 verdict #5): its
# first-hit semantics are subsumed by x18_all_occurrences' full span
# arrays, and X18 keeps a green driver row + ref≡ coverage.  Retired ≠
# untested: the oracle keeps running in tests/test_ops_retired.py.
RETIRED_QUERIES = {"x18_first_occurrence": q_first_occurrence_offsets}
RETIRED_ORACLES = {"x18_first_occurrence": _FIRST_OCCURRENCE_SQL}

def _fingerprint_oracle() -> str | None:
    # lazy (round-3 ADVICE: no corpus scan at import time); lives in
    # ops.dedup (shared XXH64 literal-embedding machinery) and imports
    # _FNV_OFFSET_I64 from here
    from archvisier_spark.ops.dedup import fingerprint_oracle_sql

    return fingerprint_oracle_sql()


ORACLES = {
    "cascade_metadata": _cascade_metadata_oracle_sql,
    "k1_token_similarity_c": _TOKEN_SIM_C_SQL,
    "k4_fuzzy_pairs": _FUZZY_PAIRS_SQL,
    "x12_sanitize_names": _SANITIZE_SQL,
    "x18_all_occurrences": _ALL_OCCURRENCE_SQL,
    "cascade_fingerprints": _fingerprint_oracle,
}
