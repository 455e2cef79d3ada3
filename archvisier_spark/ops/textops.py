"""Text-analysis operators over the ``documents`` table.

Covers the reference's scalar text tier re-expressed on Spark built-ins
(F2 header slice, F6 needs-value predicate, X10 lang heuristic, A3
group-concat, A4 quality score) plus the training-data-pipeline operators
the 100 TB use-case needs: token counting, quality scoring, language ID.
All are JVM-side expressions — no Python in these plans — except NFC
normalization, where no JVM built-in exposes ICU normalization and the
sanctioned escape hatch is one Arrow-batched pandas UDF.
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from archvisier_spark.session import local_frame

# Tiny English stopword list for the quality heuristic (public knowledge).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _docs(spark, sf_dir):
    from archvisier_spark.ops.io_util import read_table

    return read_table(spark, sf_dir, "documents")


# --- X10: language-ID heuristic (diacritics class) + distribution ---

def q_lang_heuristic(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .withColumn(
            "detected",
            F.when(F.lower(F.col("text")).rlike("[ąćęłńóśżź]"), F.lit("pl")).otherwise(F.lit("en")),
        )
        .groupBy("lang", "detected")
        .agg(F.count("*").alias("n_docs"))
    )


_LANG_SQL = f"""
SELECT lang,
       CASE WHEN regexp_matches(lower(text), '[ąćęłńóśżź]') THEN 'pl' ELSE 'en' END AS detected,
       count(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


# --- F2 header slice + token counting (whitespace tokenizer) ---

def q_header_tokens(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    header = F.substring("text", 1, 500)
    return docs.select(
        "doc_id",
        F.length(header).alias("header_chars"),
        F.size(F.split(F.trim(header), r"\s+")).alias("header_tokens"),
    ).filter(F.col("doc_id") < 200)


_HEADER_TOKENS_SQL = """
SELECT doc_id,
       length(substr(text, 1, 500)) AS header_chars,
       len(string_split_regex(trim(substr(text, 1, 500)), '\\s+')) AS header_tokens
FROM documents
WHERE doc_id < 200
"""


# --- A4-style quality scoring: length / stopword ratio / punct ratio ---

def q_quality_scores(spark, sf_dir):
    # r07: tokenise ONCE into a column — the old expression tree split the
    # text three times (n_tokens twice, the stopword filter once).  A
    # repartition fan-out was measured too: it helps the full-value path
    # (noop 1.7→0.6 s at sf1.0) but taxes the count path with an exchange
    # (+~0.15 s), so the map-only shape is kept.
    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", "text", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    tokens = F.col("toks")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(tokens)
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))
    scored = docs.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(
            (F.length("text") - F.length(F.regexp_replace("text", r"[^\w\s]", "")))
            / F.greatest(F.length("text"), F.lit(1)),
            4,
        ).alias("punct_ratio"),
    )
    return scored.groupBy("source").agg(
        F.round(F.avg("n_tokens"), 3).alias("avg_tokens"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
        F.count("*").alias("n_docs"),
    )


_QUALITY_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                               t -> list_contains({list(STOPWORDS)!r}, t)))
               / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 4) AS stopword_ratio,
         round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
               / greatest(length(text), 1), 4) AS punct_ratio
  FROM documents
)
SELECT source,
       round(avg(n_tokens), 3)         AS avg_tokens,
       round(avg(stopword_ratio), 4)   AS avg_stopword_ratio,
       round(avg(punct_ratio), 4)      AS avg_punct_ratio,
       count(*)                        AS n_docs
FROM scored GROUP BY source
"""


# --- F6: needs-value predicate (empty / shorter than 3) ---

def q_needs_value(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    first_tok = F.element_at(F.split(F.trim("text"), r"\s+"), 1)
    return (
        docs.withColumn(
            "needs_value",
            F.when(first_tok.isNull() | (F.length(first_tok) < 3), F.lit(1)).otherwise(F.lit(0)),
        )
        .groupBy("lang")
        .agg(F.sum("needs_value").alias("n_needing"), F.count("*").alias("n_total"))
    )


_NEEDS_VALUE_SQL = """
SELECT lang,
       sum(CASE WHEN t IS NULL OR length(t) < 3 THEN 1 ELSE 0 END)::BIGINT AS n_needing,
       count(*) AS n_total
FROM (SELECT lang, string_split_regex(trim(text), '\\s+')[1] AS t FROM documents)
GROUP BY lang
"""


# --- A3: entity-style group-concat with deterministic ordering ---

def q_group_concat_sources(spark, sf_dir):
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 60)
    return docs.groupBy("lang").agg(
        F.concat_ws(" ", F.array_sort(F.collect_list(F.col("source")))).alias("sources_joined"),
        F.count("*").alias("n"),
    )


_GROUP_CONCAT_SQL = """
SELECT lang, string_agg(source, ' ' ORDER BY source) AS sources_joined, count(*) AS n
FROM documents WHERE doc_id < 60
GROUP BY lang
"""


# --- T6: seeded random split sizes (distribution contract only) ---

def q_doc_length_histogram(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bucket = F.floor(F.col("n_chars") / 100).cast("int")
    return docs.groupBy(bucket.alias("len_bucket")).agg(F.count("*").alias("n_docs"))


_LENGTH_HISTO_SQL = """
SELECT CAST(n_chars // 100 AS INT) AS len_bucket, count(*) AS n_docs
FROM documents GROUP BY 1
"""


# --- X2 scale path: date-extraction cascade as native regexp_extract ---

def q_date_cascade_native(spark, sf_dir):
    """The X2 first-match-wins date cascade in its JVM-native form
    (smart_extractor.py:84-90 patterns 1-2 + normalisation), over text
    synthesised from order dates — the subset of the cascade where Java
    regex ≡ RE2 ≡ Python re (plain ASCII classes), per SURVEY §7: native
    where differential tests prove equality, pandas UDF elsewhere."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(F.col("o_orderkey") < 800)
    text = F.concat(
        F.lit("Zamówienie nr "), F.col("o_orderkey").cast("string"),
        F.lit(" z dnia "), F.date_format("o_orderdate", "d.M.yyyy"),
        F.lit(" roku"),
    )
    iso = F.regexp_extract(text, r"(\d{4})[/\.\-](\d{1,2})[/\.\-](\d{1,2})", 0)
    dmy_d = F.regexp_extract(text, r"(\d{1,2})[/\.\-](\d{1,2})[/\.\-](\d{4})", 1)
    dmy_m = F.regexp_extract(text, r"(\d{1,2})[/\.\-](\d{1,2})[/\.\-](\d{4})", 2)
    dmy_y = F.regexp_extract(text, r"(\d{1,2})[/\.\-](\d{1,2})[/\.\-](\d{4})", 3)
    normalised = F.when(iso != "", iso).otherwise(
        F.when(
            dmy_y != "",
            F.concat_ws("-", dmy_y, F.lpad(dmy_m, 2, "0"), F.lpad(dmy_d, 2, "0")),
        ).otherwise(F.lit(""))
    )
    return orders.select(
        "o_orderkey",
        normalised.alias("extracted_date"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("true_date"),
    ).withColumn("matches", (F.col("extracted_date") == F.col("true_date")).cast("int"))


_DATE_CASCADE_SQL = """
WITH t AS (
  SELECT o_orderkey,
         'Zamówienie nr ' || o_orderkey || ' z dnia ' ||
         CAST(extract(day FROM o_orderdate) AS VARCHAR) || '.' ||
         CAST(extract(month FROM o_orderdate) AS VARCHAR) || '.' ||
         CAST(extract(year FROM o_orderdate) AS VARCHAR) || ' roku' AS text,
         strftime(o_orderdate, '%Y-%m-%d') AS true_date
  FROM orders WHERE o_orderkey < 800
)
SELECT o_orderkey,
       CASE WHEN regexp_extract(text, '(\\d{4})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{1,2})', 0) <> ''
            THEN regexp_extract(text, '(\\d{4})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{1,2})', 0)
            WHEN regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 3) <> ''
            THEN regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 3)
                 || '-' || lpad(regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 2), 2, '0')
                 || '-' || lpad(regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 1), 2, '0')
            ELSE '' END AS extracted_date,
       true_date,
       CAST(CASE WHEN (CASE WHEN regexp_extract(text, '(\\d{4})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{1,2})', 0) <> ''
            THEN regexp_extract(text, '(\\d{4})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{1,2})', 0)
            WHEN regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 3) <> ''
            THEN regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 3)
                 || '-' || lpad(regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 2), 2, '0')
                 || '-' || lpad(regexp_extract(text, '(\\d{1,2})[/\\.\\-](\\d{1,2})[/\\.\\-](\\d{4})', 1), 2, '0')
            ELSE '' END) = true_date THEN 1 ELSE 0 END AS INT) AS matches
FROM t
"""


# --- BPE-ish tokenisation counts (training-pipeline token accounting) ---

# GPT-2-style pre-tokeniser simplified to the RE2 ∩ Java-regex common
# subset (no lookarounds): contraction suffixes, letter runs (incl.
# Latin-Extended for Polish diacritics), digit runs, punctuation runs.
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)|[A-Za-zÀ-ž]+|[0-9]+|[^A-Za-z0-9\s]+"


def q_bpe_token_counts(spark, sf_dir):
    """Token accounting for a training-data pipeline: whitespace tokens vs
    BPE-ish pre-tokens per document — both pure JVM expressions
    (regexp_extract_all runs in whole-stage codegen; the same pattern is
    RE2-compatible, so DuckDB verifies per-row)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    ws = F.size(F.split(F.trim("text"), r"\s+"))
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0)))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


_BPE_TOKEN_SQL = f"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '{BPE_ISH_PATTERN.replace("'", "''")}'))::BIGINT AS n_bpe_tokens,
       length(text)::BIGINT AS n_chars_actual
FROM documents WHERE doc_id < 300
"""


# --- X9/J4 scale form: token ⋈ dictionary nearest-word correction ---

# Small correction dictionary: corpus vocabulary + decoys.  The kernel
# (correct_text) keeps full Python-re parity; this is the SURVEY §2.5 J4
# Spark-native shape — explode → broadcast-dict join → min_by — for the
# 100 TB regime, proven per-row against DuckDB.
CORRECTION_DICT = (
    "table", "query", "window", "filter", "stream", "batch", "column",
    "vector", "merge", "spark", "customer", "partition", "shuffle",
)


def q_dictionary_correction(spark, sf_dir):
    """Per-document dictionary repair at scale (processing/ocr.py:108-130
    re-expressed relationally): explode tokens, mark in-dictionary tokens,
    correct out-of-dictionary tokens to the nearest dictionary word when
    edit distance ≤ 2 (argmin with deterministic tie on the word), and
    reassemble the corrected text in token order.  The dictionary is
    broadcast (it is by nature small); the only wide shuffle is the
    per-document regroup."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "tok")
    )
    dict_df = local_frame(
        spark, [(w,) for w in CORRECTION_DICT],
        T.StructType([T.StructField("dict_word", T.StringType())]),
    )
    in_dict = toks.join(
        F.broadcast(dict_df), toks.tok == dict_df.dict_word, "left_semi"
    ).withColumn("word", F.col("tok"))
    oov = toks.join(F.broadcast(dict_df), toks.tok == dict_df.dict_word, "left_anti")
    corrected = (
        oov.crossJoin(F.broadcast(dict_df))
        .withColumn("dist", F.levenshtein("tok", "dict_word"))
        .groupBy("doc_id", "pos", "tok")
        .agg(
            F.expr("min_by(dict_word, struct(dist, dict_word))").alias("nearest"),
            F.min("dist").alias("dist"),
        )
        .withColumn(
            "word",
            F.when(F.col("dist") <= 2, F.col("nearest")).otherwise(F.col("tok")),
        )
    )
    repaired = in_dict.select("doc_id", "pos", "word").unionByName(
        corrected.select("doc_id", "pos", "word")
    )
    return repaired.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("corrected_text"),
        F.count("*").alias("n_tokens"),
    )


_DICTIONARY_CORRECTION_SQL = f"""
WITH dict AS (SELECT unnest({list(CORRECTION_DICT)!r}) AS dict_word),
toks AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS pos
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE doc_id < 100)
),
marked AS (
  SELECT doc_id, pos, tok,
         EXISTS (SELECT 1 FROM dict WHERE dict_word = tok) AS in_dict
  FROM toks
),
corrected AS (
  SELECT m.doc_id, m.pos,
         CASE WHEN m.in_dict THEN m.tok
              WHEN n.dist <= 2 THEN n.nearest
              ELSE m.tok END AS word
  FROM marked m
  LEFT JOIN (
    SELECT doc_id, pos,
           min(dist) AS dist,
           min(CASE WHEN rn = 1 THEN dict_word END) AS nearest
    FROM (
      SELECT m2.doc_id, m2.pos, d.dict_word,
             levenshtein(m2.tok, d.dict_word) AS dist,
             row_number() OVER (PARTITION BY m2.doc_id, m2.pos
                                ORDER BY levenshtein(m2.tok, d.dict_word) ASC,
                                         d.dict_word ASC) AS rn
      FROM marked m2 CROSS JOIN dict d
      WHERE NOT m2.in_dict
    )
    GROUP BY doc_id, pos
  ) n ON m.doc_id = n.doc_id AND m.pos = n.pos
)
SELECT doc_id,
       string_agg(word, ' ' ORDER BY pos) AS corrected_text,
       count(*) AS n_tokens
FROM corrected
GROUP BY doc_id
"""


# --- Unicode NFC normalization (dedup preprocessing tier) ---

import pandas as _pd


@F.pandas_udf(T.StringType())
def nfc_normalize_udf(texts: _pd.Series) -> _pd.Series:
    import unicodedata

    return _pd.Series(
        [unicodedata.normalize("NFC", t) if t is not None else None for t in texts]
    )


def q_nfc_normalize(spark, sf_dir):
    """Unicode NFC canonicalization before hashing/dedup — the standard
    LLM-pipeline preprocessing step (visually identical text with
    different codepoint sequences must hash identically).  No JVM
    built-in exposes ICU normalization, so this is the sanctioned
    Arrow-batched escape hatch: one vectorized pandas UDF over
    ``unicodedata.normalize`` (stdlib), everything around it built-ins.
    Output marks which docs CHANGED under NFC plus the md5 of the
    canonical form — the digest exact-dedup would group on."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    nfc = nfc_normalize_udf("text")
    return docs.select(
        "doc_id",
        F.md5(nfc).alias("nfc_digest"),
        (nfc != F.col("text")).alias("changed_by_nfc"),
        F.length(nfc).alias("n_chars_nfc"),
    )


_NFC_SQL = """
SELECT doc_id,
       md5(nfc_normalize(text)) AS nfc_digest,
       nfc_normalize(text) <> text AS changed_by_nfc,
       length(nfc_normalize(text)) AS n_chars_nfc
FROM documents WHERE doc_id < 400
"""


# --- charset transport precedence (WHATWG §13.2.3) as a driver query ---

# NOTE: every character must be encodable in ISO-8859-2 AND windows-1250
# (the fixture encodes the same body in both) — Polish diacritics yes,
# em-dashes no (absent from ISO-8859-2).
_CHARSET_BODY = (
    "Zażółć gęślą jaźń, pełnoprawny akapit głównej treści dokumentu, "
    "wystarczająco długi, aby klasyfikator bloków zachował go w całości "
    "jako treść, a nie odrzucił jako szablonową ramkę nawigacyjną."
)


def _charset_cases() -> list:
    """Deterministic WHATWG-precedence fixture ``(case_id, content_type,
    payload)``: BOM > transport header > meta prescan > UTF-8, including
    the transport-honored BOM-less UTF-16 tier (round-4 ADVICE).  Payloads
    are built in plain Python on the driver — the same bytes feed the
    Spark query (createDataFrame) and the oracle generator (kernel)."""
    import codecs

    def page(meta: str) -> str:
        return (
            f"<html><head>{meta}</head><body><p>{_CHARSET_BODY}</p>"
            "</body></html>"
        )

    return [
        # BOM wins over a contradicting transport header
        (0, "text/html; charset=iso-8859-2",
         codecs.BOM_UTF16_LE + page("").encode("utf-16-le")),
        # transport header wins over a contradicting meta declaration
        (1, "text/html; charset=windows-1250",
         page('<meta charset="iso-8859-1">').encode("windows-1250")),
        # BOM-less UTF-16 with an honest transport header is honored as-is
        (2, "text/html; charset=utf-16", page("").encode("utf-16-le")),
        # no header: the 1024-byte meta prescan decides
        (3, None, page('<meta charset="iso-8859-2">').encode("iso-8859-2")),
        # nothing declared anywhere: UTF-8 default
        (4, None, page("").encode("utf-8")),
    ]


def q_charset_transport(spark, sf_dir):
    """Charset precedence driven through the REAL distributed pipeline
    (round-4 verdict #5): a 5-case WHATWG fixture table carrying a
    ``content_type`` column (the WARC Content-Type analog) runs through
    extract_documents' mapInArrow path — header-over-meta precedence and
    the transport-honored UTF-16 tier become driver-visible
    (kernel/charset.py, pipeline/extract.py content_type propagation).
    sf_dir-independent: the fixture IS the deterministic corpus."""
    from archvisier_spark.pipeline.extract import extract_documents

    schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
    ])
    rows = [
        (f"warc://charset/case-{cid}", None, payload, "pl", ct)
        for cid, ct, payload in _charset_cases()
    ]
    ext = extract_documents(local_frame(spark, rows, schema))
    return ext.select("url", "extracted_text", "status", "format")


def _charset_transport_oracle_sql(sf_dir: str | None = None) -> str:
    """Pinned-literal oracle: expected ``(url, extracted_text, status,
    format)`` computed with the single-doc kernel (extract_document_text
    + the declared transport charset) — the exact function the Arrow
    batch wrapper applies per document, so any divergence in the
    distributed plumbing (content_type column routing, Arrow batch
    shapes, null handling) flips the value hash.  Fixture-deterministic;
    no corpus dependency, so never ``None``."""
    from archvisier_spark.kernel.document import extract_document_text

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for cid, ct, payload in _charset_cases():
        text, status, fmt = extract_document_text(payload, "auto", ct)
        vals.append(
            f"({q(f'warc://charset/case-{cid}')}, {q(text)}, "
            f"{q(status)}, {q(fmt)})"
        )
    return (
        "SELECT url, extracted_text, status, format FROM (VALUES\n"
        + ",\n".join(vals)
        + "\n) AS t(url, extracted_text, status, format)"
    )


QUERIES = {
    "text_lang_heuristic": q_lang_heuristic,
    "charset_transport_precedence": q_charset_transport,
    "text_nfc_normalize": q_nfc_normalize,
    "x2_date_cascade_native": q_date_cascade_native,
    "text_header_tokens": q_header_tokens,
    "text_quality_scores": q_quality_scores,
    "text_needs_value": q_needs_value,
    "text_group_concat_sources": q_group_concat_sources,
    "text_length_histogram": q_doc_length_histogram,
    "text_bpe_token_counts": q_bpe_token_counts,
    "x9_dictionary_correction": q_dictionary_correction,
}

ORACLES = {
    "charset_transport_precedence": _charset_transport_oracle_sql,
    "text_nfc_normalize": _NFC_SQL,
    "text_bpe_token_counts": _BPE_TOKEN_SQL,
    "x9_dictionary_correction": _DICTIONARY_CORRECTION_SQL,
    "text_lang_heuristic": _LANG_SQL,
    "x2_date_cascade_native": _DATE_CASCADE_SQL,
    "text_header_tokens": _HEADER_TOKENS_SQL,
    "text_quality_scores": _QUALITY_SQL,
    "text_needs_value": _NEEDS_VALUE_SQL,
    "text_group_concat_sources": _GROUP_CONCAT_SQL,
    "text_length_histogram": _LENGTH_HISTO_SQL,
}
