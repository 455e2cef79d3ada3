"""Deduplication operators over ``documents`` — the 100 TB pipeline tier.

* exact dedup        — hash-groupBy on content digest (SQL oracle)
* token-Jaccard near-dup — set-semantics pair join within buckets (SQL
  oracle; the K1 *C multiset* semantics live in cascade_ops with their own
  oracle)
* MinHash + LSH      — shingle → minhash sketch → banded bucket join,
  all JVM built-ins (rows-only: sketch hashes are engine-specific; recall
  vs brute force is pinned by tests/test_ops_dedup.py)
* SimHash            — vectorized Pandas-UDF sketch (rows-only)

Scale notes: every pair join is bucketed (band signature or
(source, lang)), never a full cross join; the MinHash path is the one
that survives 10^12 docs — candidate generation is a shuffle on band
signatures, O(n·bands), and AQE handles residual bucket skew.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MINHASH_K = 32          # sketch size
# 16 bands × 2 rows: high-recall banding (P[match] = 1-(1-s²)^16 ≈ 1 for
# s ≥ 0.7).  False candidates are cheap — every candidate is re-verified
# with exact Jaccard before acting — missed true pairs are lost forever.
LSH_BANDS = 16
SHINGLE = 3             # token-shingle width


def _docs(spark, sf_dir):
    from archvisier_spark.ops.io_util import read_table

    return read_table(spark, sf_dir, "documents")


# --- exact dedup: digest groupBy (S/A tier; trivially shuffle-minimal) ---

def q_exact_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy(F.md5(F.col("text")).alias("digest"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_id"))
        .filter(F.col("n_copies") > 1)
        .groupBy()
        .agg(
            F.count("*").alias("dup_groups"),
            F.coalesce(F.sum(F.col("n_copies") - 1), F.lit(0)).alias("removable_docs"),
        )
    )


_EXACT_DEDUP_SQL = """
SELECT count(*) AS dup_groups,
       coalesce(sum(n_copies - 1), 0)::BIGINT AS removable_docs
FROM (
  SELECT md5(text) AS digest, count(*) AS n_copies, min(doc_id) AS keeper_id
  FROM documents GROUP BY 1 HAVING count(*) > 1
)
"""


# --- token-set Jaccard near-dup within (source, lang) buckets ---

def q_near_dup_jaccard(spark, sf_dir):
    # r07: repartition ahead of tokenisation — the doc_id pushdown leaves
    # the split/array_distinct work on the single scan task otherwise
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 1000).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select(
        "doc_id", "source", "lang",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("toks"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.source") == F.col("b.source"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    jac = F.round(
        F.size(F.array_intersect("a.toks", "b.toks"))
        / F.size(F.array_union("a.toks", "b.toks")),
        4,
    )
    return (
        pairs.select(F.col("a.source").alias("source"), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
        .groupBy("source")
        .agg(F.count("*").alias("n_near_dup_pairs"))
    )


_NEAR_DUP_SQL = """
WITH toks AS (
  SELECT doc_id, source, lang,
         list_distinct(string_split_regex(trim(text), '\\s+')) AS toks
  FROM documents WHERE doc_id < 1000
)
SELECT a.source AS source, count(*) AS n_near_dup_pairs
FROM toks a JOIN toks b
  ON a.source = b.source AND a.lang = b.lang AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.8
GROUP BY 1
"""


# --- MinHash + LSH: the scale path (all JVM built-ins) ---

def signatures_from_shingles(
    sh_df: DataFrame, k: int = MINHASH_K, shingles: str = "sh"
) -> DataFrame:
    """doc_id + k-wide minhash sketch from a (doc_id, shingle-array) frame.

    Hashing and the min-reduction are Spark built-ins — zero Python.
    Each shingle STRING is hashed exactly once (xxhash64); the k lanes
    re-hash the resulting 8-byte long per seed, which is ~5× cheaper
    than re-hashing variable-length strings k times.  Since r07 the k
    min-lanes fold in ONE ``aggregate`` traversal carrying a k-wide
    accumulator (``zip_with(acc, lanes(h), least)``) instead of k
    separate ``transform``+``array_min`` passes — the same per-token
    hash count with 1/k of the traversal/intermediate-array overhead
    (measured 0.32 → 0.22 s on the sf1.0 slice; min is
    order-invariant).  The min-fold is duplicate-invariant, so distinct
    and raw shingle arrays yield the SAME sketch — the one shingle table
    serves both the sketch and the exact verification join.

    ``sig`` is ``array<bigint>``: the int lane hashes widen to long
    against the Long.MAX accumulator, so band hashes over it are those
    of a bigint array.  An empty shingle array leaves the accumulator
    untouched — an all-Long.MAX sketch, which every empty document
    shares.
    """
    base_hashes = F.transform(F.col(shingles), lambda s: F.xxhash64(s))
    init = F.array(*[F.lit(9223372036854775807).cast("long") for _ in range(k)])
    sig = F.aggregate(
        F.col("hs"),
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.hash(h, F.lit(seed)) for seed in range(k)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return (
        sh_df.select("doc_id", base_hashes.alias("hs"))
        .select("doc_id", sig.alias("sig"))
    )


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id + k-wide minhash sketch over 3-token shingles (convenience
    composition: shingle → :func:`signatures_from_shingles`)."""
    return signatures_from_shingles(
        docs.select("doc_id", shingle_col("text").alias("sh")), k
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """Banded LSH: equal band-slice signature → candidate pair.

    Explode to (band_id, band_hash) and self-join on the bucket — the only
    shuffle is on band signatures, so cost is O(n·bands) rows, not O(n²).
    """
    rows = MINHASH_K // bands
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.hash(F.slice("sig", b * rows + 1, rows)).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def shingle_col(text_col, width: int = SHINGLE):
    """Distinct token-shingle strings — the unit BOTH the sketch and the
    verification measure (mixing units, e.g. sketching shingles but
    verifying token-set jaccard, makes 'near-duplicate' mean two different
    things)."""
    toks = F.split(F.trim(text_col), r"\s+")
    n_shingles = F.greatest(F.size(toks) - (width - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_shingles),
            lambda i: F.concat_ws(" ", F.slice(toks, i, width)),
        )
    )


def q_minhash_lsh_dedup(spark, sf_dir):
    """Candidate pairs via MinHash-LSH, verified with exact SHINGLE Jaccard
    (the similarity the sketch estimates), emitted at ≥ 0.5.

    Oracle: brute-force shingle jaccard in DuckDB.  The sketch is
    deterministic (xxhash64, fixed seeds) and at s ≥ 0.5 the 16×2 banding
    has per-pair miss probability (1-s²)^16 ≤ 1%, measured 0 misses on the
    driver corpus — so the LSH output EQUALS the brute-force set here and
    the driver gets a full rows+schema+hash check on the scale path.
    """
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 2000)
    # ONE materialization feeds everything: the shingle table is pinned
    # (shingling is the expensive pass — spread it across cores first:
    # the pushed-down doc_id filter collapses the scan to ~1 partition),
    # and the sketch, the banded self-join, and BOTH sides of the verify
    # join derive from it — the 32-lane hashing runs over pinned local
    # rows instead of re-shingling the corpus 3×.  On a cluster this IS a
    # materialized index table (write once, join many) — localCheckpoint
    # is the local-mode equivalent (lineage-truncating, so executor loss
    # would need the written-table form); it pins a narrow row-per-doc
    # slice, never the corpus.
    par = spark.sparkContext.defaultParallelism
    sh = (
        docs.repartition(par, "doc_id")
        .select("doc_id", shingle_col("text").alias("sh"))
        .localCheckpoint(eager=True)
    )
    sigs = signatures_from_shingles(sh)
    cands = lsh_candidate_pairs(sigs)
    verified = (
        cands.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return verified.select("id_a", "id_b", "jaccard")


_MINHASH_LSH_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct([
           array_to_string(t[i:i+2], ' ')
           FOR i IN range(1, greatest(len(t) - 2, 1) + 1)
         ]) AS sh
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE doc_id < 2000)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5
"""


# --- SimHash: JVM token hashing + NumPy bit-vote (zero per-token Python) ---

@F.pandas_udf(T.LongType())
def _simhash_vote(hash_arrays: pd.Series) -> pd.Series:
    """Majority bit-vote over per-token 64-bit hashes — the one SimHash
    step built-ins can't express.  Fully batch-vectorized: the whole Arrow
    batch becomes one flattened (n_tokens, 64) bit matrix, segment-summed
    with ``np.add.reduceat``; no per-token or per-byte Python anywhere.
    Empty token streams hash to 0."""
    import numpy as np

    n = len(hash_arrays)
    out = np.zeros(n, dtype=np.int64)
    lens = np.fromiter(
        (0 if a is None else len(a) for a in hash_arrays), dtype=np.int64, count=n
    )
    mask = lens > 0
    if mask.any():
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a, m in zip(hash_arrays, mask) if m]
        ).view(np.uint64)
        bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
            np.int64
        )
        seg_lens = lens[mask]
        offsets = np.zeros(len(seg_lens), dtype=np.int64)
        np.cumsum(seg_lens[:-1], out=offsets[1:])
        ones = np.add.reduceat(bits, offsets, axis=0)
        maj = (2 * ones) > seg_lens[:, None]
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        sig = (maj.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        out[mask] = sig.view(np.int64)
    return pd.Series(out, dtype="int64")


def simhash64(text_col) -> "F.Column":
    """64-bit SimHash column over whitespace tokens.

    Tokens are hashed once JVM-side with ``xxhash64`` (the same strategy
    as :func:`minhash_signatures` — whole-stage codegen, deterministic
    across runs since xxhash64 is a spec'd Spark function with fixed seed);
    only the bit-vote crosses into NumPy."""
    toks = F.filter(F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit(""))
    token_hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return _simhash_vote(token_hashes)


def q_simhash_buckets(spark, sf_dir):
    """SimHash sketches bucketed by top-16 bits; rows-only check."""
    # r07: the pushed-down doc_id filter collapses the scan to ~1 task
    # (single-row-group file) — repartition so tokenisation + xxhash64 +
    # the Arrow bit-vote run across cores (same fix q_minhash_lsh_dedup
    # has carried since round 3).
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 2000).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return (
        docs.select("doc_id", simhash64("text").alias("simhash"))
        .withColumn("bucket", F.shiftrightunsigned("simhash", 48))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )


_U64 = "(1::HUGEINT << 64)"
_BIT63 = "(1::HUGEINT << 63)"


def corpus_token_hashes(sf_dir: str, max_doc_id: int) -> dict[str, int] | None:
    """token → UNSIGNED Spark-xxhash64, for every whitespace token in the
    capped corpus slice — computed OUTSIDE the JVM by the pure-Python
    XXH64 (kernel/hashing.py, pinned ≡ F.xxhash64), so DuckDB oracles can
    embed engine-identical token hashes as literals.  None when the corpus
    is not on disk (→ rows-only driver check)."""
    import os

    path = f"{sf_dir}/documents.parquet"
    if not os.path.exists(path):
        return None
    import duckdb

    from archvisier_spark.kernel.hashing import xxhash64_string

    con = duckdb.connect()  # keep the ref alive across the fetch
    try:
        toks = [
            r[0]
            for r in con.sql(
                f"""
                SELECT DISTINCT tok FROM (
                  SELECT unnest(list_filter(
                    string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS tok
                  FROM '{path}' WHERE doc_id < {max_doc_id})"""
            ).fetchall()
        ]
    finally:
        con.close()
    return {t: xxhash64_string(t) & ((1 << 64) - 1) for t in sorted(toks)}


def _hash_case_expr(token_hashes: dict[str, int], var: str = "t") -> str:
    """CASE lookup embedding the token→hash map (HUGEINT, unsigned u64)."""
    whens = " ".join(
        f"WHEN '{tok.replace(chr(39), chr(39) * 2)}' THEN {h}::HUGEINT"
        for tok, h in token_hashes.items()
    )
    return f"(CASE {var} {whens} END)"


def simhash_oracle_sql(sf_dir: str | None = None) -> str | None:
    """Full value oracle for q_simhash_buckets: token hashes embedded as
    literals (pure-Python XXH64 ≡ Spark's xxhash64), then the majority
    bit-vote for the TOP-16 bits (the bucket = shiftrightunsigned(sig,48))
    re-derived in unsigned HUGEINT arithmetic.

    Lazy (round-3 ADVICE): called by ``all_oracles()`` on the driver, never
    at import time — executors re-importing this module (cloudpickle
    by-reference UDFs) must not scan the corpus."""
    from archvisier_spark.ops.oracle_env import driver_sf_dir

    th = corpus_token_hashes(sf_dir or driver_sf_dir(), 2000)
    if th is None:
        return None
    case = _hash_case_expr(th)
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * list_sum(list_transform(hl, h -> (h >> {48 + k}) % 2)) > n "
        f"THEN {1 << k} ELSE 0 END)"
        for k in range(16)
    )
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
  FROM documents WHERE doc_id < 2000
),
hs AS (
  SELECT doc_id, len(toks) AS n,
         list_transform(toks, t -> {case}) AS hl
  FROM docs_t
),
sig AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN 0 ELSE ({bit_terms}) END AS bucket
  FROM hs
)
SELECT bucket::BIGINT AS bucket, count(*) AS n_docs
FROM sig GROUP BY 1 HAVING count(*) > 1
"""


def fingerprint_oracle_sql(sf_dir: str | None = None) -> str | None:
    """Full value oracle for cascade_fingerprints: the rotate-xor fold
    (acc' = rotl5(acc) XOR xxhash64(token), seed = FNV-1a offset basis) is
    re-derived with list_reduce over embedded literal token hashes.
    rotl5 in u64 HUGEINT = (acc*32 mod 2^64) + (acc >> 59) (the two parts
    share no bits, so + ≡ OR); XOR runs through signed BIGINT (bitwise on
    two's complement, so the detour is exact).  Lazy — see
    :func:`simhash_oracle_sql`."""
    from archvisier_spark.ops.cascade_ops import _FNV_OFFSET_I64
    from archvisier_spark.ops.oracle_env import driver_sf_dir

    th = corpus_token_hashes(sf_dir or driver_sf_dir(), 500)
    if th is None:
        return None
    case = _hash_case_expr(th)
    offset_u64 = _FNV_OFFSET_I64 + (1 << 64)  # unsigned form of the seed
    rotl = f"(((acc * 32) % {_U64}) + (acc >> 59))"
    to_s = f"(CASE WHEN {rotl} >= {_BIT63} THEN {rotl} - {_U64} ELSE {rotl} END)::BIGINT"
    h_s = f"(CASE WHEN h >= {_BIT63} THEN h - {_U64} ELSE h END)::BIGINT"
    xor_u = (
        f"(CASE WHEN xor({to_s}, {h_s}) < 0 "
        f"THEN xor({to_s}, {h_s})::HUGEINT + {_U64} "
        f"ELSE xor({to_s}, {h_s})::HUGEINT END)"
    )
    return f"""
WITH docs_t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
  FROM documents WHERE doc_id < 500
),
hs AS (
  SELECT doc_id, list_transform(toks, t -> {case}) AS hl FROM docs_t
),
folded AS (
  SELECT doc_id,
         list_reduce(list_prepend({offset_u64}::HUGEINT, hl),
                     (acc, h) -> {xor_u}) AS f
  FROM hs
)
SELECT doc_id,
       (CASE WHEN f >= {_BIT63} THEN f - {_U64} ELSE f END)::BIGINT AS fingerprint
FROM folded
"""


QUERIES = {
    "dedup_exact": q_exact_dedup,
    "dedup_near_jaccard": q_near_dup_jaccard,
    "dedup_minhash_lsh": q_minhash_lsh_dedup,
    "dedup_simhash_buckets": q_simhash_buckets,
}

ORACLES = {
    "dedup_exact": _EXACT_DEDUP_SQL,
    "dedup_near_jaccard": _NEAR_DUP_SQL,
    # LSH output == brute-force shingle-jaccard set on the driver corpus
    # (measured 0 misses; sketch is deterministic) → full value oracle
    "dedup_minhash_lsh": _MINHASH_LSH_SQL,
    # "engine-specific hashes" no more: the pure-Python XXH64 (pinned
    # ≡ Spark's xxhash64) embeds the token hashes as literals and the
    # bit-vote is re-derived in SQL.  Callable → resolved lazily on the
    # driver by all_oracles(); returns None (rows-only) off-driver.
    "dedup_simhash_buckets": simhash_oracle_sql,
}
