"""Similarity search over the ``embeddings`` table (K2 at scale).

* brute-force cosine top-k — the correctness baseline (SQL oracle via
  DuckDB ``list_cosine_similarity``)
* norm / centroid statistics — vector aggregates as plain SQL
* random-hyperplane LSH ANN — the scale path: signature bucketing bounds
  the candidate set; recall vs brute force pinned by
  tests/test_ops_simsearch.py (rows-only driver check)

The cosine kernel is pure built-ins: ``aggregate(zip_with(a,b,(x,y)->x*y))``
runs in whole-stage codegen (SURVEY.md §2.4 K2 — "no UDF needed").
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window, functions as F

TOP_K = 5
N_QUERIES = 5
# 10 bands × 4-bit signatures: tuned empirically on the driver corpus —
# random 64-dim Gaussian embeddings are LSH's worst case (top-k cosines
# ~0.4, so p_bit ≈ 0.65 and recall needs heavy OR-amplification).  This
# config holds recall ≥ 0.6 for 10/10 plane seeds at a ~0.5 candidate
# fraction here; on real (clustered) embeddings the same banding yields
# far smaller candidate sets at higher recall.
LSH_PLANES = 40          # total hyperplanes
LSH_BANDS = 10           # signature bands; candidate = any band matches
EMB_DIM = 64


def _emb(spark, sf_dir):
    from archvisier_spark.ops.io_util import read_table

    return read_table(spark, sf_dir, "embeddings")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_col(a, b):
    """Cosine similarity as a codegen'd column expression; 0.0 on zero norm
    (K2 contract, native/fast_similarity.c:10-24)."""
    dot = _dot(a, b)
    na = F.sqrt(_dot(a, a))
    nb = F.sqrt(_dot(b, b))
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot / (na * nb))


def cosine_from_norms(a, b, na, nb):
    """Cosine from pre-computed norms (optimization round r07, guide §2.3:
    the pair join recomputed sqrt(dot(x,x)) for BOTH sides of every pair —
    hoisting the norms into the per-row projections before the join cuts
    the dominant higher-order-function work per pair from three dot
    products to one).  The expression tree is bit-identical to
    :func:`cosine_col` — ``dot/(na*nb)`` with the same zero-norm guard and
    the same left-to-right fold — so results are unchanged."""
    dot = _dot(a, b)
    return F.when((na == 0.0) | (nb == 0.0), F.lit(0.0)).otherwise(dot / (na * nb))


def _norm(vec) -> "F.Column":
    return F.sqrt(_dot(vec, vec))


def _lit_vec(vec: list[float]) -> "F.Column":
    """Literal double-array column built as ONE parsed SQL expression.

    ``F.array(*[F.lit(v) for v in vec])`` issues a py4j round trip per
    element — the IVF/ANN queries embed thousands of plane/centroid
    components, and those driver-side calls (not the compute) dominated
    query BUILD time (r07).  ``repr(float)`` is the shortest round-trip
    decimal and ``CAST('…' AS DOUBLE)`` parses back to the identical
    bits, so the resulting literals — and every downstream cosine — are
    unchanged.  A non-finite component raises ``ValueError``: Spark would
    cast its spelling to NULL and null every cosine it touches."""
    for i, v in enumerate(vec):
        if not math.isfinite(v):
            raise ValueError(f"vector component {i} is {v!r}, not finite")
    return F.expr(
        "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in vec) + ")"
    )


def _par(spark) -> int:
    return spark.sparkContext.defaultParallelism


# --- brute-force top-k: correctness baseline ---

def q_cosine_topk(spark, sf_dir):
    # r07: the embeddings table is a single parquet row group, so the scan
    # is ONE task — hash-repartition fans the cosine work across cores
    # (guide §2.5 input skew: "one huge unsplittable file … repartition
    # immediately after the read"); norms are hoisted per side (§2.3).
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"),
        _norm("embedding").alias("qn"),
    )
    cands = emb.repartition(_par(spark), "vec_id").select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c"),
        _norm("embedding").alias("cn"),
    )
    scored = (
        cands.crossJoin(F.broadcast(queries))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            cosine_from_norms("q", "c", F.col("qn"), F.col("cn")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "rk", F.round("cos", 4).alias("cosine"))
    )


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         list_cosine_similarity(q.qe, e.embedding) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, cand_id, rk, round(cos, 4) AS cosine
FROM (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
"""


# --- vector norm statistics per label (vector agg as plain SQL) ---

def q_norm_stats(spark, sf_dir):
    # r07: project the norm ONCE into a column (the three aggregates were
    # each fed their own copy of the dot-product expression) and fan the
    # HOF work off the single-row-group scan task.
    emb = _emb(spark, sf_dir).repartition(_par(spark), "vec_id").select(
        "label", _norm("embedding").alias("norm")
    )
    norm = F.col("norm")
    return emb.groupBy("label").agg(
        F.round(F.avg(norm), 4).alias("avg_norm"),
        F.round(F.min(norm), 4).alias("min_norm"),
        F.round(F.max(norm), 4).alias("max_norm"),
        F.count("*").alias("n_vecs"),
    )


_NORM_STATS_SQL = """
SELECT label,
       round(avg(sqrt(list_dot_product(embedding, embedding))), 4) AS avg_norm,
       round(min(sqrt(list_dot_product(embedding, embedding))), 4) AS min_norm,
       round(max(sqrt(list_dot_product(embedding, embedding))), 4) AS max_norm,
       count(*) AS n_vecs
FROM embeddings GROUP BY label
"""


# --- random-hyperplane LSH: the ANN scale path ---

def _planes(seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)] for _ in range(LSH_PLANES)
    ]


def band_signature_cols(vec_col, planes: list[list[float]], bands: int = LSH_BANDS):
    """Sign-of-projection bit signatures, one packed int per band (built-ins).

    Banding (OR-amplification) trades precision for recall exactly like
    MinHash-LSH banding: a candidate matches if ANY band signature agrees."""
    per_band = len(planes) // bands
    sigs = []
    for b in range(bands):
        bits = [
            F.when(
                _dot(vec_col, _lit_vec(plane)) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
            for i, plane in enumerate(planes[b * per_band : (b + 1) * per_band])
        ]
        out = bits[0]
        for bit in bits[1:]:
            out = out + bit
        sigs.append(out.cast("long").alias(f"sig{b}"))
    return sigs


def q_ann_lsh_topk(spark, sf_dir, seed: int = 42):
    """ANN top-k: exact cosine ranking restricted to band-matched buckets.

    Candidate generation explodes each vector to (band_id, band_sig) rows
    and joins on the bucket — shuffle is O(n·bands), never O(n²).
    Rows-only driver check (buckets depend on the seeded planes); recall
    ≥ 0.6 vs the brute-force baseline is asserted across 10 plane seeds
    in tests/test_ops_simsearch.py.
    """
    # r07: single-row-group scan → repartition before the 40 plane dots
    # (the expensive per-row work) run; norms hoisted per side so the
    # band-matched pair join does ONE dot per pair instead of three.
    emb = _emb(spark, sf_dir)
    planes = _planes(seed)
    signed = emb.repartition(_par(spark), "vec_id").select(
        "vec_id", "embedding", _norm("embedding").alias("nrm"),
        *band_signature_cols("embedding", planes),
    )
    banded = signed.select(
        "vec_id",
        "embedding",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"sig{b}").alias("band_sig"))
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("vec_id", "embedding", "nrm", "band.band_id", "band.band_sig")
    queries = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("nrm").alias("qn"),
        F.col("band_id").alias("qband_id"),
        F.col("band_sig").alias("qband_sig"),
    )
    scored = (
        banded.join(
            F.broadcast(queries),
            (F.col("band_id") == F.col("qband_id")) & (F.col("band_sig") == F.col("qband_sig")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("cand_id"),
            cosine_from_norms("q", "embedding", F.col("qn"), F.col("nrm")).alias("cos"),
        )
        .groupBy("query_id", "cand_id")
        .agg(F.first("cos").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "rk", F.round("cos", 4).alias("cosine"))
    )


# --- IVF (inverted-file) ANN: the clustered-data scale path ---

IVF_K = 16        # coarse centroids (inverted lists)
IVF_NPROBE = 4    # lists probed per query


def _py_norm(vec: list[float]) -> float:
    """Python rendition of ``sqrt(_dot(v, v))`` with the SAME left-to-right
    IEEE-double fold as the Spark expression — centroid norms are
    constants, so they are computed once here and embedded as literals
    instead of re-deriving sqrt(dot(c,c)) per row per centroid (r07)."""
    import math

    acc = 0.0
    for x in vec:
        acc += x * x
    return math.sqrt(acc)


def _centroid_sims(vec_col, centroids: list[list[float]], vnorm=None):
    """(similarity, centroid_id) structs for every centroid — built-ins
    only, so assignment stays in whole-stage codegen.

    ``vnorm``: pre-computed row-norm COLUMN (hoist it — an expression here
    would be duplicated once per centroid).  The centroid norms are
    Python-precomputed literals; the cosine tree is otherwise identical
    to :func:`cosine_col` (same guard, same fold order), so values are
    bit-identical."""
    vn = vnorm if vnorm is not None else _norm(vec_col)
    sims = []
    for i, c in enumerate(centroids):
        dot = _dot(vec_col, _lit_vec(c))
        cn = F.lit(_py_norm(c))
        cos = F.when((vn == 0.0) | (cn == 0.0), F.lit(0.0)).otherwise(dot / (vn * cn))
        sims.append(F.struct(cos.alias("s"), F.lit(i).alias("c")))
    return F.array(*sims)


def assign_bucket(vec_col, centroids: list[list[float]], vnorm=None):
    """argmax-cosine centroid id (struct array_max orders by first field)."""
    return F.array_max(_centroid_sims(vec_col, centroids, vnorm)).getField("c")


def probe_buckets(vec_col, centroids: list[list[float]], nprobe: int = IVF_NPROBE,
                  vnorm=None):
    """The nprobe nearest centroid ids, best first."""
    ordered = F.reverse(F.array_sort(_centroid_sims(vec_col, centroids, vnorm)))
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s.getField("c"))


def train_ivf_centroids(emb: DataFrame, k: int = IVF_K) -> list[list[float]]:
    """One deterministic Lloyd iteration: seed with the k lowest-id
    vectors, assign every vector, recompute per-bucket means.  Both the
    seed collect (k×dim) and the means collect (k×dim rows) are
    metadata-sized; the assignment pass is a map-only expression over the
    table — the shape that trains on 10^12 rows.

    Means are rounded to 6 decimals: double-summation order varies with
    partitioning, so the raw avg is only reproducible to ~1 ulp — rounding
    pins the trained centroids run-to-run AND lets an independent engine
    (the DuckDB oracle) train to the exact same values."""
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    # r07: the assignment pass computes k cosine dots per row — fan it out
    # of the single-row-group scan task before the HOF work runs, and
    # hoist the row norm (it was re-derived once per centroid)
    assigned = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    ).withColumn("__vn", _norm("embedding")).withColumn(
        "cid", assign_bucket("embedding", seeds, F.col("__vn"))
    ).drop("__vn")
    means = (
        assigned.select("cid", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .collect()
    )
    dim = len(seeds[0])
    cents = [list(s) for s in seeds]  # empty buckets keep their seed
    by_cid: dict[int, dict[int, float]] = {}
    for r in means:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["m"]
    for cid, posmap in by_cid.items():
        cents[cid] = [float(posmap[p]) for p in range(dim)]
    return cents


def q_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: coarse-quantize vectors into K inverted lists, probe
    the nprobe nearest lists per query, exact cosine rank inside them.

    Rows-only driver check (centroids derive from a training pass); recall
    is pinned in tests/test_ops_simsearch.py on CLUSTERED synthetic data —
    the property IVF exploits (on this corpus's random Gaussian vectors,
    hyperplane LSH is the better-suited variant and carries the tuned
    recall gate)."""
    emb = _emb(spark, sf_dir)
    cents = train_ivf_centroids(emb)
    # r07: repartition before the 16 assignment dots per row (single-row-
    # group scan otherwise runs them on one task); norms hoisted per side.
    lists = emb.repartition(_par(spark), "vec_id").withColumn(
        "__vn", _norm("embedding")
    ).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c"),
        F.col("__vn").alias("cn"),
        assign_bucket("embedding", cents, F.col("__vn")).alias("cid"),
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).withColumn(
        "__vn", _norm("embedding")
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.col("__vn").alias("qn"),
        F.explode(probe_buckets("embedding", cents, vnorm=F.col("__vn"))).alias("cid"),
    )
    scored = (
        lists.join(F.broadcast(queries), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id",
            cosine_from_norms("q", "c", F.col("qn"), F.col("cn")).alias("cos"),
        )
        .groupBy("query_id", "cand_id")
        .agg(F.first("cos").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "rk", F.round("cos", 4).alias("cosine"))
    )


# --- J2 analog: similar-document recall with threshold (top-3, > 0.2) ---

def q_similar_above_threshold(spark, sf_dir):
    """The reference's memory-recall join J2: top-3 by cosine, kept only
    above 0.2 (context_analyzer.py:250-256)."""
    # r07: same treatment as q_cosine_topk — repartition off the single-
    # row-group scan, hoist per-side norms before the pair join.
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"),
        _norm("embedding").alias("qn"),
    )
    cands = emb.filter(F.col("vec_id") >= N_QUERIES).repartition(
        _par(spark), "vec_id"
    ).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c"),
        _norm("embedding").alias("cn"),
    )
    scored = cands.crossJoin(F.broadcast(queries)).select(
        "query_id", "cand_id",
        cosine_from_norms("q", "c", F.col("qn"), F.col("cn")).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter((F.col("rk") <= 3) & (F.col("cos") > 0.2))
        .select("query_id", "cand_id", F.round("cos", 4).alias("cosine"))
    )


_SIMILAR_THRESHOLD_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         list_cosine_similarity(q.qe, e.embedding) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= {N_QUERIES}
)
SELECT query_id, cand_id, round(cos, 4) AS cosine
FROM (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS rk
  FROM scored
) WHERE rk <= 3 AND cos > 0.2
"""


# --- embedding-cosine near-dup pairs within label buckets ---

def q_embedding_near_dup(spark, sf_dir):
    """Embedding near-duplicate detection: pairs within a label bucket
    whose cosine exceeds 0.30 — ≈ the 99.9th percentile of this corpus's
    centered random embeddings, so the filter selects a real tail (dedup
    tier for vector-indexed corpora; bucketing bounds the pair join
    exactly like the LSH variants)."""
    # r07: norms hoisted per side (one dot per pair instead of three) and
    # the capped slice repartitioned off its single-task scan before the
    # in-label pair join.
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 600).repartition(
        _par(spark), "vec_id"
    ).select("vec_id", "label", "embedding", _norm("embedding").alias("nrm"))
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine_from_norms(
        F.col("a.embedding"), F.col("b.embedding"), F.col("a.nrm"), F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.label").alias("label"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.30)
    )


_EMB_NEAR_DUP_SQL = """
SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding, b.embedding), 4) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.vec_id < 600 AND b.vec_id < 600
  AND round(list_cosine_similarity(a.embedding, b.embedding), 4) >= 0.30
"""


def _ann_oracle_sql(seed: int = 42) -> str:
    """DuckDB oracle for q_ann_lsh_topk, generated from the SAME seeded
    planes: per-band sign-of-projection signatures as literal-array dot
    products, bucket join, exact cosine top-k.  Sign decisions are only
    float-order-sensitive at dot ≈ 0, which this (deterministic) corpus
    does not hit — verified by the driver's value-hash match."""
    planes = _planes(seed)
    per_band = len(planes) // LSH_BANDS

    def arr(vec):
        return "[" + ", ".join(repr(v) for v in vec) + "]"

    band_exprs = []
    for b in range(LSH_BANDS):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(embedding, {arr(p)}) > 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes[b * per_band: (b + 1) * per_band])
        )
        band_exprs.append(f"({bits}) AS sig{b}")
    sig_cols = ",\n         ".join(band_exprs)
    union_bands = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {b} AS band_id, sig{b} AS band_sig FROM signed"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH signed AS (
  SELECT vec_id, embedding,
         {sig_cols}
  FROM embeddings
),
banded AS ({union_bands}),
cands AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
         q.embedding AS qe, c.embedding AS ce
  FROM banded q JOIN banded c
    ON q.band_id = c.band_id AND q.band_sig = c.band_sig
  WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, cand_id, rk, round(cos, 4) AS cosine
FROM (
  SELECT query_id, cand_id,
         list_cosine_similarity(qe, ce) AS cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY list_cosine_similarity(qe, ce) DESC,
                                     cand_id ASC) AS rk
  FROM cands
) WHERE rk <= {TOP_K}
"""


_IVF_TOPK_SQL = f"""
WITH seeds AS (
  SELECT cid, se FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
           embedding::DOUBLE[] AS se
    FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {IVF_K})
  )
),
-- one Lloyd iteration, exactly as train_ivf_centroids: assign to argmax-
-- cosine seed (ties -> larger cid, matching Spark's struct array_max),
-- per-bucket elementwise means rounded to 6 decimals
assign0 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, s.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], s.se) DESC,
                      s.cid DESC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
),
means AS (
  SELECT cid, i AS pos, round(avg(embedding[i]::DOUBLE), 6) AS m
  FROM assign0, range(1, {EMB_DIM} + 1) t(i)
  GROUP BY cid, i
),
trained AS (SELECT cid, list(m ORDER BY pos) AS ce FROM means GROUP BY cid),
cents AS (  -- empty buckets keep their (unrounded) seed
  SELECT s.cid, coalesce(t.ce, s.se) AS ce
  FROM seeds s LEFT JOIN trained t ON s.cid = t.cid
),
lists AS (  -- inverted lists: every vector to its nearest trained centroid
  SELECT vec_id AS cand_id, embedding AS cemb, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce) DESC,
                      c.cid DESC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (  -- nprobe nearest lists per query
  SELECT vec_id AS query_id, embedding AS qemb, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce) DESC,
                      c.cid DESC) AS rn
    FROM embeddings e CROSS JOIN cents c
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
cands AS (
  SELECT DISTINCT p.query_id, l.cand_id, p.qemb, l.cemb
  FROM probes p JOIN lists l ON p.cid = l.cid
  WHERE l.cand_id <> p.query_id
)
SELECT query_id, cand_id, rk, round(cos, 4) AS cosine
FROM (
  SELECT query_id, cand_id,
         list_cosine_similarity(qemb::DOUBLE[], cemb::DOUBLE[]) AS cos,
         row_number() OVER (PARTITION BY query_id
           ORDER BY list_cosine_similarity(qemb::DOUBLE[], cemb::DOUBLE[]) DESC,
                    cand_id ASC) AS rk
  FROM cands
) WHERE rk <= {TOP_K}
"""


QUERIES = {
    "sim_cosine_topk": q_cosine_topk,
    "sim_norm_stats": q_norm_stats,
    "sim_ann_lsh_topk": q_ann_lsh_topk,
    "sim_ivf_topk": q_ivf_topk,
    "sim_similar_above_threshold": q_similar_above_threshold,
    "sim_embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "sim_cosine_topk": _COSINE_TOPK_SQL,
    "sim_norm_stats": _NORM_STATS_SQL,
    # the seeded planes are embedded as literal arrays in generated SQL, so
    # even the ANN bucketing is value-checked end-to-end
    "sim_ann_lsh_topk": _ann_oracle_sql(),
    "sim_similar_above_threshold": _SIMILAR_THRESHOLD_SQL,
    "sim_embedding_near_dup": _EMB_NEAR_DUP_SQL,
    # full oracle incl. the TRAINING pass: the one Lloyd iteration is
    # reproduced in SQL; 6-decimal mean rounding makes both engines train
    # to identical centroids
    "sim_ivf_topk": _IVF_TOPK_SQL,
}
