"""Text analysis operators over the `documents` table — language ID, quality
scoring, token counting, fingerprinting.

Net-new Spark-first capabilities (the reference has no text operators or UDF
surface, SURVEY.md §2.9). Everything here is built from JVM-side built-in
functions — no Python UDFs in the hot path — so the plans whole-stage-codegen
and scale linearly: per-document work only, no shuffles except the final
aggregations.

Design for 100 TB: each operator is a narrow map over `documents`
(project + regexp/hash built-ins). Filters push into the parquet scan;
aggregations are partial-agg friendly (small group cardinality: lang,
source, score buckets).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


# Stopword lists per language for the n-gram/stopword heuristic language ID.
# Tiny on purpose: broadcast as a literal into both engines' SQL.
_STOPWORDS = {
    "en": ("the", "and", "a"),
    "es": ("el", "la", "de"),
    "de": ("der", "und", "die"),
    "fr": ("le", "la", "et"),
    "zh": ("de", "le", "shi"),  # pinyin-ish for the synthetic corpus
}


def _sw_count_sql(word: str) -> str:
    # Count whole-word occurrences of `word` (DuckDB side).
    return (
        "len(string_split_regex(' ' || lower(text) || ' ', "
        f"'[^a-z]{word}[^a-z]')) - 1"
    )


def _sw_count_spark(word: str):
    padded = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    return F.size(F.split(padded, f"[^a-z]{word}[^a-z]")) - 1


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish subword proxy (runs of
# letters/digits/punctuation as separate tokens).
@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_ish_tokens,
           length(text) AS n_chars_actual
    FROM documents
    WHERE doc_id < 200
    """,
    tags=("text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.filter(F.col("doc_id") < 200).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)")
        ).alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


# ---------------------------------------------------------------------------
# Quality scoring: length, punctuation ratio, stopword ratio, mean word
# length — the standard cheap pre-filters for LLM training corpora.
@register(
    "text_quality_score",
    oracle="""
    WITH feats AS (
      SELECT doc_id, lang,
             length(text) AS n,
             len(string_split_regex(trim(text), '\\s+')) AS n_words,
             length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
             (len(string_split_regex(' ' || lower(text) || ' ', '[^a-z]the[^a-z]')) - 1
              + len(string_split_regex(' ' || lower(text) || ' ', '[^a-z]and[^a-z]')) - 1
              + len(string_split_regex(' ' || lower(text) || ' ', '[^a-z]a[^a-z]')) - 1) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_words,
           ROUND(CAST(n_punct AS DOUBLE) * 1000, 2) / n AS punct_per_kchar,
           ROUND(CAST(n_stop AS DOUBLE) * 100, 2) / n_words AS stop_pct,
           CASE WHEN n BETWEEN 100 AND 5000
                 AND CAST(n_stop AS DOUBLE) / n_words > 0.01 THEN 1 ELSE 0 END AS passes_quality
    FROM feats
    WHERE doc_id < 300
    """,
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n = F.length("text")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_punct = n - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    n_stop = (
        _sw_count_spark("the") + _sw_count_spark("and") + _sw_count_spark("a")
    )
    feats = docs.select(
        "doc_id", "lang", n.alias("n"), n_words.alias("n_words"),
        n_punct.alias("n_punct"), n_stop.alias("n_stop"),
    )
    return feats.filter(F.col("doc_id") < 300).select(
        "doc_id",
        "lang",
        "n_words",
        (F.round(F.col("n_punct").cast("double") * 1000, 2) / F.col("n")).alias("punct_per_kchar"),
        (F.round(F.col("n_stop").cast("double") * 100, 2) / F.col("n_words")).alias("stop_pct"),
        F.when(
            F.col("n").between(100, 5000)
            & (F.col("n_stop").cast("double") / F.col("n_words") > 0.01),
            1,
        )
        .otherwise(0)
        .alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# Language identification: stopword-count heuristic over the 5 corpus
# languages; argmax by count with deterministic tie-break on language code.
@register(
    "text_lang_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang AS lang_true, s.key AS lang_pred, s.cnt
      FROM documents, LATERAL (
        SELECT * FROM (VALUES
          {",".join(
            "('" + lang + "', " + " + ".join(_sw_count_sql(w) for w in words) + ")"
            for lang, words in sorted(_STOPWORDS.items())
          )}
        ) AS t(key, cnt)
      ) s
    ), ranked AS (
      SELECT doc_id, lang_true, lang_pred, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lang_pred) AS rn
      FROM scores
    )
    SELECT lang_true, lang_pred, COUNT(*) AS n
    FROM ranked WHERE rn = 1
    GROUP BY lang_true, lang_pred
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # Per-doc argmax WITHOUT explode/window: the 5 language scores live in one
    # array of (cnt, -alphabetical_rank, lang) structs; array_max's struct
    # ordering = highest cnt, ties to the alphabetically-first language —
    # identical to the oracle's ROW_NUMBER(ORDER BY cnt DESC, lang_pred).
    # A pure projection: no shuffle until the tiny confusion-matrix groupBy.
    lang_scores = [
        F.struct(
            sum((_sw_count_spark(w) for w in words), F.lit(0)).alias("cnt"),
            F.lit(-i).alias("tie"),
            F.lit(lang).alias("lang_pred"),
        )
        for i, (lang, words) in enumerate(sorted(_STOPWORDS.items()))
    ]
    best = F.array_max(F.array(*lang_scores))
    return (
        docs.select(F.col("lang").alias("lang_true"), best["lang_pred"].alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Document fingerprinting: md5 of the normalized text (lowercase, collapse
# whitespace, strip punctuation) — the canonical-form hash used for exact
# dedup at corpus scale. md5 exists in both engines with identical output.
# The builder stays: the oracle's regexp_replace(..., 'g') is DuckDB's
# replace-all flag, but Spark reads a fourth argument as a start position
# and returns NULL, so the text run through spark.sql returns other rows
# (measured at sf0.01 and sf0.1).
@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g')) AS fingerprint
    FROM documents
    WHERE doc_id < 100
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    normalized = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
    )
    return docs.filter(F.col("doc_id") < 100).select(
        "doc_id", F.md5(normalized).alias("fingerprint")
    )


# Rolling-hash shingle fingerprint (winnowing-style): minimum md5 over all
# 8-token shingles — a single representative fingerprint robust to small
# edits at either end of the document.
@register(
    "text_shingle_min_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 100
    ), shingles AS (
      SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS h
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 7)) AS i)
    )
    SELECT doc_id, MIN(h) AS min_shingle_hash FROM shingles GROUP BY doc_id
    """,
    tags=("text", "fingerprint"),
)
def text_shingle_min_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 100).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    # Build all 8-token shingles JVM-side with transform over an index array,
    # then MIN(md5) per doc — no Python, no shuffle beyond the final agg.
    # Docs shorter than 8 tokens get an empty shingle array (without the
    # guard, sequence(0, size-8) with start > stop descends and slice() gets
    # negative starts) and drop out of the MIN — matching the oracle's
    # empty generate_series.
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= 8,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 8),
                    lambda i: F.md5(F.array_join(F.slice(F.col("w"), i + 1, 8), " ")),
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("h"),
    )
    return shingles.groupBy("doc_id").agg(F.min("h").alias("min_shingle_hash"))


# ---------------------------------------------------------------------------
# PII scrubbing: regex redaction of emails, IPv4 addresses, and long digit
# runs (phone/account numbers) — the pre-training privacy pass. The synthetic
# corpus carries no PII, so the query INJECTS a deterministic PII suffix per
# document and proves the scrub removes it (same construction as the
# hot-shingle dedup case). Patterns use the Java/RE2-shared subset so both
# engines compile them identically.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_PII_DIGITS = "[0-9]{7,}"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.1 ref 9' || CAST(1000000 + doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id < 500
    ), scrubbed AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '{_PII_IPV4}', '<IP>', 'g'),
               '{_PII_DIGITS}', '<NUM>', 'g') AS clean
      FROM seeded
    )
    SELECT doc_id, md5(clean) AS clean_md5,
           CAST(clean LIKE '%<EMAIL>%' AND clean LIKE '%<IP>%'
                AND clean LIKE '%<NUM>%' AS VARCHAR) AS fully_redacted
    FROM scrubbed ORDER BY doc_id
    """,
    tags=("text", "pii"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    seeded = docs.filter(F.col("doc_id") < 500).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 ref 9"), (F.col("doc_id") + 1000000).cast("string"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4, "<IP>"),
        _PII_DIGITS, "<NUM>")
    return (
        seeded.select("doc_id", clean.alias("clean"))
        .select(
            "doc_id",
            F.md5("clean").alias("clean_md5"),
            (
                F.col("clean").like("%<EMAIL>%")
                & F.col("clean").like("%<IP>%")
                & F.col("clean").like("%<NUM>%")
            ).cast("string").alias("fully_redacted"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus bigram frequency: the classic corpus-statistics scan (vocabulary /
# n-gram distribution for tokenizer training). Top 50 bigrams by count.
# Partial-agg friendly: shuffle is O(distinct bigrams), never O(tokens).
@register(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), bigrams AS (
      SELECT w[i] || ' ' || w[i+1] AS bg
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i)
    )
    SELECT bg, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams GROUP BY bg
    ORDER BY n DESC, bg LIMIT 50
    """,
    tags=("text",),
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    idx = F.when(F.size(w) >= 2, F.sequence(F.lit(0), F.size(w) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = docs.select(w.alias("w"), idx.alias("idx")).select(
        F.explode("idx").alias("i"), "w"
    ).select(
        F.concat(
            F.element_at("w", F.col("i") + 1), F.lit(" "), F.element_at("w", F.col("i") + 2)
        ).alias("bg")
    )
    return (
        bigrams.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bg")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# End-to-end curation filter — the composition a real pre-training pipeline
# runs: keep documents that (1) pass the length/stopword quality gate,
# (2) are tagged English, and (3) are the CANONICAL copy among exact
# duplicates (the min-doc_id keeper per md5 fingerprint — dedup_exact's
# decision applied as a filter). One pass of narrow maps + one fingerprint
# groupBy; the anti-join side is the tiny duplicate-keeper map, broadcast.
@register(
    "pipeline_curation_filter",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
      FROM documents
    ), keepers AS (
      SELECT fingerprint, MIN(doc_id) AS keeper FROM fp GROUP BY fingerprint
    ), gated AS (
      SELECT f.doc_id, f.lang,
             length(f.text) AS n,
             len(string_split_regex(trim(f.text), '\\s+')) AS n_words,
             (len(string_split_regex(' ' || lower(f.text) || ' ', '[^a-z]the[^a-z]')) - 1
              + len(string_split_regex(' ' || lower(f.text) || ' ', '[^a-z]and[^a-z]')) - 1
              + len(string_split_regex(' ' || lower(f.text) || ' ', '[^a-z]a[^a-z]')) - 1) AS n_stop
      FROM fp f JOIN keepers k ON f.fingerprint = k.fingerprint AND f.doc_id = k.keeper
    )
    SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words
    FROM gated
    WHERE lang = 'en' AND n BETWEEN 100 AND 5000
      AND CAST(n_stop AS DOUBLE) / n_words > 0.01
    ORDER BY doc_id
    """,
    tags=("text", "pipeline"),
)
def pipeline_curation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    fp = docs.select(
        "doc_id",
        "lang",
        "text",
        F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")).alias("fingerprint"),
    )
    keepers = fp.groupBy(F.col("fingerprint").alias("k_fp")).agg(
        F.min("doc_id").alias("keeper")
    )
    n = F.length("text")
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_stop = _sw_count_spark("the") + _sw_count_spark("and") + _sw_count_spark("a")
    # No broadcast hint: keepers has one row per UNIQUE document — it scales
    # with the corpus, so a forced broadcast would OOM the driver at 100 TB.
    # The join key is the fingerprint; a plain shuffle join co-locates
    # correctly and AQE still broadcasts when the frame measures small.
    return (
        fp.join(
            keepers,
            (F.col("fingerprint") == F.col("k_fp")) & (F.col("doc_id") == F.col("keeper")),
        )
        .select("doc_id", "lang", n.alias("n"), n_words.alias("n_words"), n_stop.alias("n_stop"))
        .filter(
            (F.col("lang") == "en")
            & F.col("n").between(100, 5000)
            & (F.col("n_stop").cast("double") / F.col("n_words") > 0.01)
        )
        .select("doc_id", "lang", F.col("n_words").cast("long").alias("n_words"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Repetition scoring: the boilerplate/spam signal every production curation
# stack computes (Gopher/RefinedWeb-style repetition rules). Two ratios per
# doc — duplicate trigram fraction (1 - distinct/total 3-grams) and the
# most-frequent-token share — plus the filter flag. Integer counting first,
# one float division at the end: identical doubles on both engines.
_REP_NGRAM = 3


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
               FROM documents WHERE doc_id < 200),
    g AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_REP_NGRAM - 1})) AS s
          FROM t WHERE len(w) >= {_REP_NGRAM}),
    tri AS (SELECT doc_id, array_to_string(w[s : s + {_REP_NGRAM - 1}], ' ') AS sh FROM g),
    tri_stats AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri,
             CAST(COUNT(DISTINCT sh) AS BIGINT) AS d_tri
      FROM tri GROUP BY doc_id
    ),
    words AS (SELECT doc_id, unnest(w) AS word FROM t),
    wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word),
    word_stats AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
             CAST(MAX(cnt) AS BIGINT) AS top_cnt
      FROM wc GROUP BY doc_id
    )
    SELECT t.doc_id, n_tri, d_tri,
           ROUND(1.0 - CAST(d_tri AS DOUBLE) / n_tri, 4) AS dup_tri_ratio,
           ROUND(CAST(top_cnt AS DOUBLE) / n_words, 4) AS top_word_frac,
           CASE WHEN 1.0 - CAST(d_tri AS DOUBLE) / n_tri > 0.1
                  OR CAST(top_cnt AS DOUBLE) / n_words > 0.1
                THEN 1 ELSE 0 END AS is_repetitive
    FROM tri_stats t JOIN word_stats USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hyrise_spark.pipeline.curate import shingle_expr

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = docs.select("doc_id", w.alias("w"))
    tri_stats = (
        base.filter(F.size("w") >= _REP_NGRAM)
        .select("doc_id", F.explode(shingle_expr(F.col("w"), _REP_NGRAM)).alias("sh"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tri"),
            F.countDistinct("sh").alias("d_tri"),
        )
    )
    word_stats = (
        base.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_words"), F.max("cnt").alias("top_cnt"))
    )
    dup = 1.0 - F.col("d_tri").cast("double") / F.col("n_tri")
    top = F.col("top_cnt").cast("double") / F.col("n_words")
    return (
        tri_stats.join(word_stats, "doc_id")
        .select(
            "doc_id", "n_tri", "d_tri",
            F.round(dup, 4).alias("dup_tri_ratio"),
            F.round(top, 4).alias("top_word_frac"),
            F.when((dup > 0.1) | (top > 0.1), 1).otherwise(0).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fastText-style bag-of-hashed-tokens, the
# standard pretraining-corpus quality gate — e.g. the CCNet / GPT-3 quality
# filters). Weights are a deterministic function of the hash bucket so the
# DuckDB oracle computes bit-identical integer logits; a trained model would
# broadcast its (bucket -> weight) table instead, same plan shape.

_QC_BUCKETS = 64     # hashed feature space
_QC_MOD = 1997       # weight lattice: w(b) = (b * 2654435761) % 1997 - 998


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(w, tok ->
             (CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % {_QC_BUCKETS})
               * 2654435761 % {_QC_MOD} - 998)) AS BIGINT) AS quality_logit,
           list_sum(list_transform(w, tok ->
             (CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) % {_QC_BUCKETS})
               * 2654435761 % {_QC_MOD} - 998)) > 0 AS keep
    FROM t
    """,
    tags=("text", "curate"),
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear classifier over hashed token features, evaluated entirely
    inside the row: tokens -> md5 bucket -> integer weight -> summed logit.

    Scale: ZERO shuffle — the whole model is a narrow map (higher-order
    array functions inside whole-stage codegen), so throughput is scan
    bandwidth. Integer weights keep the logit exact, so the differential is
    a hash match, not an epsilon compare. A trained model swaps the weight
    formula for a broadcast lookup; the plan stays a narrow map.
    """
    return classifier_select(_docs(spark, sf_dir))


def classifier_select(df: DataFrame) -> DataFrame:
    """The classifier as a reusable projection over any frame with
    (doc_id, text) — shared by the batch op and the streaming gate so both
    paths score with bit-identical expressions."""
    tok_weight = (
        lambda tok: (
            F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
            % _QC_BUCKETS
        )
        * F.lit(2654435761)
        % _QC_MOD
        - 998
    )
    logit = F.aggregate(
        F.transform(F.col("w"), tok_weight),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.select(
            "doc_id",
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w"),
        )
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            logit.alias("quality_logit"),
            (logit > 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: top-k salient terms per document — the classic
# signal behind keyword tagging, topic sampling, and quality heuristics.
# IDF is kept on an exact-integer lattice (scaled integer division) so both
# engines score identically with no libm/rounding dependence.

_TFIDF_TOPK = 3


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ((n.n_docs * 1000) // df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, CAST(score AS BIGINT) AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rnk
      FROM scored
    )
    WHERE rnk <= {_TFIDF_TOPK}
    """,
    tags=("text",),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k TF-IDF terms per document with integer-lattice IDF
    (scaled integer division: idf = (N * 1000) div df).

    Scale: two aggregations over (doc_id, term) pairs — tf partial-aggs
    map-side; df is one groupBy on term. The scoring join is term-keyed
    (the df frame scales with VOCABULARY, not corpus size — Heaps' law
    sublinear, but NOT statically bounded, so no broadcast hint: AQE
    broadcasts it while it measures small). Ranking windows partition per
    document. N (corpus size) is a scalar agg — a one-row broadcast.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))  # scalar aggregate: statically one row
        .withColumn("score", F.expr("tf * ((n_docs * 1000) div df)"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df",
                F.col("score").cast("long").alias("score"),
                F.col("rnk").cast("int").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training building blocks (Sennrich et al. 2016, the
# subword-nmt algorithm every LLM tokenizer descends from).
#
# The distributed-BPE insight: after the first corpus pass, ALL work happens
# on the word-frequency table — vocabulary-sized (Heaps'-law sublinear in
# corpus size), never the corpus itself. `text_bpe_pairs` registers the
# oracle-checked pair-count step (the per-merge-iteration workhorse);
# `bpe_train` runs the full merge loop on symbol arrays, and `bpe_apply`
# re-encodes words with a learned merge list. The argmax-pair pick collects
# ONE row per merge — trainer driver work like kmeans_iterate's centroid
# loop, documented; the registered query collects nothing.
_BPE_TOPK = 30


@register(
    "text_bpe_pairs",
    oracle=r"""
    WITH wf AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents,
           LATERAL (SELECT UNNEST(string_split_regex(trim(lower(text)), '\s+')) AS w) t
      GROUP BY w
    ),
    p AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, SUM(cnt) AS total
      FROM wf, LATERAL (SELECT UNNEST(generate_series(1, length(word) - 1)) AS i) g
      WHERE length(word) >= 2
      GROUP BY 1
    )
    SELECT pair, CAST(total AS BIGINT) AS total
    FROM p ORDER BY total DESC, pair LIMIT 30
    """,
    tags=("text", "bpe"),
)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-symbol pairs for the FIRST BPE merge decision: corpus
    word frequencies (one partial-agg pass over documents), then character
    bigrams weighted by word count. The pair-generation input is the
    vocabulary table, not the corpus — at 100 TB the corpus pass happens
    once and every merge iteration reuses the vocab-sized frame. Top-k is
    TakeOrdered."""
    docs = _docs(spark, sf_dir)
    wf = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wf.filter(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("total"))
        .orderBy(F.col("total").desc(), "pair")
        .limit(_BPE_TOPK)
    )


def _bpe_word_freqs(docs: DataFrame) -> DataFrame:
    """(word, cnt, syms) with syms = initial character symbols."""
    return (
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
        )
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
    )


def _bpe_pair_counts(wf: DataFrame) -> DataFrame:
    """(left, right, total) adjacent-symbol pair counts over symbol arrays,
    weighted by word frequency — the per-iteration aggregation."""
    return (
        wf.filter(F.size("syms") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS left,"
                    "             element_at(syms, CAST(i + 1 AS INT)) AS right))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("total"))
    )


def _bpe_merge_expr(a: str, b: str) -> str:
    """SQL expression rewriting `syms` with every adjacent (a, b) merged to
    a||b — a single left-to-right aggregate() scan with a skip flag, the
    exact sequential semantics of the reference algorithm (overlapping
    occurrences merge leftmost-first: aaa with merge (a,a) -> [aa, a])."""
    qa = a.replace("\\", "\\\\").replace("'", "\\'")
    qb = b.replace("\\", "\\\\").replace("'", "\\'")
    return f"""
      aggregate(
        sequence(1, size(syms)),
        struct(CAST(array() AS ARRAY<STRING>) AS out, false AS skip),
        (acc, i) -> CASE
          WHEN acc.skip THEN struct(acc.out AS out, false AS skip)
          WHEN i < size(syms)
               AND element_at(syms, CAST(i AS INT)) = '{qa}'
               AND element_at(syms, CAST(i + 1 AS INT)) = '{qb}'
            THEN struct(array_append(acc.out, '{qa}{qb}') AS out, true AS skip)
          ELSE struct(array_append(acc.out, element_at(syms, CAST(i AS INT))) AS out,
                      false AS skip)
        END,
        acc -> acc.out)
    """


def bpe_train(docs: DataFrame, n_merges: int = 5) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges over the corpus. Each iteration: one
    vocab-sized pair aggregation, ONE collected argmax row (count desc,
    then (left, right) asc — subword-nmt's deterministic tie-break needs a
    total order; lexicographic is ours), then a narrow per-word array
    rewrite. Stops early when no pair occurs twice."""
    wf = _bpe_word_freqs(docs).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _bpe_pair_counts(wf)
            .orderBy(F.col("total").desc(), "left", "right")
            .limit(1).collect()  # ONE row: the chosen pair becomes a literal
        )
        if not top or top[0].total < 2:
            break
        a, b = top[0].left, top[0].right
        merges.append((a, b))
        wf = wf.withColumn("syms", F.expr(_bpe_merge_expr(a, b))).localCheckpoint(
            eager=True
        )
    return merges


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode: (word, cnt, syms) after replaying the merge list in order —
    the same narrow array rewrite the trainer uses, so train-time and
    encode-time segmentations agree by construction."""
    wf = _bpe_word_freqs(docs)
    for a, b in merges:
        wf = wf.withColumn("syms", F.expr(_bpe_merge_expr(a, b)))
    return wf


# ---------------------------------------------------------------------------
# Unigram surprisal — the integer-exact analog of n-gram-LM perplexity
# filtering (CCNet/KenLM-style): a document full of corpus-rare tokens has
# high mean surprisal (gibberish / OCR noise / wrong-language), one full of
# ubiquitous tokens has low. On the integer lattice, -log2 p(token) becomes
# flog2(T) - flog2(cnt) with flog2(n) = len(binary(n)) - 1 — pure integer
# bit-length on BOTH engines, no libm.

_SURPRISAL_RARE_BITS = 5  # flag docs averaging > 5 bits/token


@register(
    "text_unigram_surprisal",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM toks)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM((length(printf('%b', tot.t)) - 1)
                    - (length(printf('%b', cnt.c)) - 1)) AS BIGINT) AS surprisal,
           CAST(SUM((length(printf('%b', tot.t)) - 1)
                    - (length(printf('%b', cnt.c)) - 1))
                > COUNT(*) * 5 AS BOOLEAN) AS rare_flag
    FROM toks t JOIN cnt ON cnt.term = t.term CROSS JOIN tot
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("text", "surprisal"),
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document integer surprisal Σ (flog2(T) - flog2(count(token))) and
    a rare-content flag at > `_SURPRISAL_RARE_BITS` mean bits/token.

    Scale: the unigram count table is vocabulary-sized (one partial-agg
    pass); scoring is a semi-join of tokens against it plus one per-doc
    partial agg. T is a one-row scalar. The same plan carries a real
    log-prob lattice (fixed-point log2) when more resolution is needed —
    bit-length is the testable integer contract."""
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("t"))
    bits = (F.length(F.expr("bin(t)")) - 1) - (F.length(F.expr("bin(c)")) - 1)
    return (
        toks.join(cnt, "term")
        .crossJoin(F.broadcast(tot))  # scalar aggregate: one row
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(bits).alias("surprisal"),
        )
        .select(
            "doc_id",
            "n_tok",
            "surprisal",
            (F.col("surprisal") > F.col("n_tok") * _SURPRISAL_RARE_BITS).alias(
                "rare_flag"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PMI collocations (Church & Hanks 1990) — phrase detection for tokenizer /
# vocabulary prep: bigrams whose observed count exceeds the independence
# expectation. Scored on an integer lattice: ppm10k = (c_ab*10^4*N) //
# (c_a*c_b) is exp2(PMI) in basis points, exact 64-bit in both engines as
# long as c_ab*N*10^4 < 2^63 (true up to ~10^9 tokens; beyond that the same
# formula moves to DECIMAL(38,0) — the ordering, not the lattice, is the
# semantic contract). All inputs are partial-agg counts: shuffles carry
# O(vocabulary) and O(distinct bigrams) rows, never O(tokens).

_PMI_MIN_COUNT = 20  # support floor: PMI is noise below a handful of sightings
_PMI_TOPK = 40


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    uni AS (
      SELECT t.w AS tok FROM toks x, LATERAL (SELECT UNNEST(x.w) AS w) t
    ),
    uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    n AS (SELECT COUNT(*) AS n FROM uni),
    bg AS (
      SELECT w[i] AS w1, w[i+1] AS w2
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i)
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2)
    SELECT bc.w1, bc.w2, CAST(bc.c_ab AS BIGINT) AS c_ab,
           -- same int64 -> double -> IEEE divide -> floor sequence as the
           -- Spark side, so the lattice agrees even past 2^53 numerators
           CAST(FLOOR(CAST(CAST(bc.c_ab * 10000 AS BIGINT) * n.n AS DOUBLE)
                      / CAST(a.c * b.c AS DOUBLE)) AS BIGINT) AS pmi_ratio_bp
    FROM bc
    JOIN uc a ON a.tok = bc.w1
    JOIN uc b ON b.tok = bc.w2
    CROSS JOIN n
    WHERE bc.c_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi_ratio_bp DESC, bc.w1, bc.w2
    LIMIT {_PMI_TOPK}
    """,
    tags=("text", "pmi"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information on the basis-points
    lattice. Plan shape: one token explode -> unigram partial-agg count
    (vocabulary-sized), one bigram explode -> pair partial-agg count
    (distinct-bigram-sized), two vocabulary-keyed equi-joins to attach
    marginals (AQE broadcasts the vocabulary frames when they measure
    small — no hint), a 1-row total frame, then TakeOrdered top-k with a
    full deterministic tie-break."""
    docs = _docs(spark, sf_dir)
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = docs.select(w.alias("w"))
    uni = toks.select(F.explode("w").alias("tok"))
    # NOTE (optimization round): checkpointing uc (+ deriving n from it)
    # measured 1.27x SLOWER — the vocab-sized materialization barrier
    # loses to the cheap pruned re-evaluations here. Left as-is.
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).alias("n"))
    idx = F.when(F.size("w") >= 2, F.sequence(F.lit(0), F.size(F.col("w")) - 2)).otherwise(
        F.array().cast("array<int>")
    )
    bg = toks.select("w", F.explode(idx).alias("i")).select(
        F.element_at("w", F.col("i") + 1).alias("w1"),
        F.element_at("w", F.col("i") + 2).alias("w2"),
    )
    bc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
    )
    a = uc.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    b = uc.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bc.join(a, "w1")
        .join(b, "w2")
        .crossJoin(n)  # 1-row total frame
        .select(
            "w1",
            "w2",
            "c_ab",
            F.floor(
                (F.col("c_ab") * 10000 * F.col("n")).cast("double")
                / (F.col("ca") * F.col("cb")).cast("double")
            )
            .cast("long")
            .alias("pmi_ratio_bp"),
        )
    )
    return scored.orderBy(F.col("pmi_ratio_bp").desc(), "w1", "w2").limit(_PMI_TOPK)


# ---------------------------------------------------------------------------
# Bigram-LM cross-entropy filter (CCNet-style perplexity gating, Wenzek et
# al. 2020) — the step past unigram surprisal: scores each TRANSITION by its
# conditional improbability, so templated/repetitive text scores low even
# when its individual words are rare, and incoherent word salad scores high
# even when every word is common. Same integer bit-length lattice as
# `text_unigram_surprisal`: per-transition bits = flog2(c(w1·)) −
# flog2(c(w1,w2)), exact in both engines (Spark `bin`, DuckDB printf('%b')).
# The model is trained on the corpus being scored (every transition has
# count >= 1 — no backoff/smoothing floats anywhere).

# Flag docs above 23/5 = 4.6 mean bits per transition — calibrated on the
# test corpus (bits/transition spans ~4.3..4.9, median ~4.58, so the flag
# separates instead of firing on everything). The compare stays on the
# integer lattice: 5*bits > 23*n_trans.
_PPL_NUM, _PPL_DEN = 23, 5


@register(
    "text_bigram_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i)
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2),
    pc AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cp FROM bc GROUP BY w1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trans,
           CAST(SUM((length(printf('%b', pc.cp)) - 1)
                    - (length(printf('%b', bc.c)) - 1)) AS BIGINT) AS bigram_bits,
           CAST({_PPL_DEN} * SUM((length(printf('%b', pc.cp)) - 1)
                    - (length(printf('%b', bc.c)) - 1))
                > COUNT(*) * {_PPL_NUM} AS BOOLEAN) AS high_ppl_flag
    FROM bg b
    JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
    JOIN pc ON pc.w1 = b.w1
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    tags=("text", "perplexity"),
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy on the bit-length lattice, plus a
    high-perplexity flag at > `_PPL_HIGH_BITS` mean bits/transition.
    Single-token documents have no transitions and drop out (same contract
    as the oracle's GROUP BY over transitions only).

    Scale: the transition-count table is distinct-bigram-sized and its
    w1-marginal is vocabulary-sized — both partial-agg passes; scoring is
    two equi-joins of the doc transitions against them (AQE broadcasts the
    count frames when they measure small — no hint) and one per-doc
    partial agg. No window, no corpus-squared term."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    idx = F.when(
        F.size("w") >= 2, F.sequence(F.lit(0), F.size(F.col("w")) - 2)
    ).otherwise(F.array().cast("array<int>"))
    # bg and bc are hubs (the count build AND the scoring join read each) —
    # materialize once, same treatment as text_kneser_ney_bigram
    bg = toks.select("doc_id", F.explode(idx).alias("i"), "w").select(
        "doc_id",
        F.element_at("w", F.col("i") + 1).alias("w1"),
        F.element_at("w", F.col("i") + 2).alias("w2"),
    ).localCheckpoint(eager=False)
    bc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=False)
    pc = bc.groupBy("w1").agg(F.sum("c").alias("cp"))
    bits = (F.length(F.expr("bin(cp)")) - 1) - (F.length(F.expr("bin(c)")) - 1)
    return (
        bg.join(bc, ["w1", "w2"])
        .join(pc, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum(bits).alias("bigram_bits"),
        )
        .select(
            "doc_id",
            "n_trans",
            "bigram_bits",
            (
                F.col("bigram_bits") * _PPL_DEN > F.col("n_trans") * _PPL_NUM
            ).alias("high_ppl_flag"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models: ... Gopher",
# table A1) — the canonical pretraining document-quality gate: word-count
# bounds, mean-word-length bounds, minimum stop-word evidence, and a cap on
# the fraction of very short words (the symbol/ellipsis rules are vacuous on
# this corpus — no punctuation exists — so the implemented subset is the one
# that can separate). Thresholds are recalibrated to the synthetic corpus
# (words average ~4.8 chars; Gopher's originals are [50, 100k] words, mean
# word length [3, 10], >= 2 stop words): word count [20, 90], mean word
# length [4.2, 5.2], >= 2 stop-word hits, short words (<= 2 chars) at most
# 10% of tokens. Every rule is an INTEGER comparison (mean-word-length via
# cross-multiplication, the short-word cap via 10*short <= n) — no floats,
# so both engines agree exactly.

_GOPHER_STOPS = ("a", "the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 20, 90
_GOPHER_MWL_LO_X10, _GOPHER_MWL_HI_X10 = 42, 52  # mean word length x10


@register(
    "curate_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT)
               AS sum_word_chars,
             CAST(len(list_filter(ws, w -> list_contains(
               {list(_GOPHER_STOPS)!r}, w))) AS BIGINT) AS stop_hits,
             CAST(len(list_filter(ws, w -> length(w) <= 2)) AS BIGINT)
               AS short_words
      FROM t
    )
    SELECT doc_id, n_words, sum_word_chars, stop_hits, short_words,
           CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                AND {_GOPHER_MWL_LO_X10} * n_words <= 10 * sum_word_chars
                AND 10 * sum_word_chars <= {_GOPHER_MWL_HI_X10} * n_words
                AND stop_hits >= 2
                AND 10 * short_words <= n_words AS BOOLEAN) AS keep
    FROM m ORDER BY doc_id
    """,
    tags=("text", "quality", "curate"),
)
def curate_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule document quality gate: per-doc token stats plus the
    conjunction keep flag.

    Scale: entirely row-local (split + higher-order array functions inside
    whole-stage codegen) — ZERO shuffles except the presentation orderBy.
    At 100 TB this is one map pass over the corpus; the stop-word list is a
    9-element literal, never a join."""
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    m = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(ws).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(ws, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_word_chars"),
        F.size(F.filter(ws, lambda w: w.isin(*_GOPHER_STOPS)))
        .cast("long")
        .alias("stop_hits"),
        F.size(F.filter(ws, lambda w: F.length(w) <= 2))
        .cast("long")
        .alias("short_words"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "sum_word_chars",
        "stop_hits",
        "short_words",
        (
            F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
            & (_GOPHER_MWL_LO_X10 * F.col("n_words") <= 10 * F.col("sum_word_chars"))
            & (10 * F.col("sum_word_chars") <= _GOPHER_MWL_HI_X10 * F.col("n_words"))
            & (F.col("stop_hits") >= 2)
            & (10 * F.col("short_words") <= F.col("n_words"))
        ).alias("keep"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus Zipf profile: the head of the word-frequency distribution with the
# rank x frequency product (Zipf's law predicts it near-constant). The
# classic one-look corpus health check — a head that is too flat means
# boilerplate; too steep means a degenerate vocabulary.

_ZIPF_TOPK = 25


@register(
    "text_zipf_profile",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY w),
    top AS (
      SELECT w, freq FROM freq ORDER BY freq DESC, w LIMIT {_ZIPF_TOPK}
    )
    SELECT w, freq,
           CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank,
           CAST(freq * ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS BIGINT)
             AS rank_freq_product
    FROM top ORDER BY rank
    """,
    tags=("text", "stats"),
)
def text_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-`_ZIPF_TOPK` corpus words with Zipf rank and rank*freq product.

    Scale: one explode + partial-agg groupBy (vocabulary-sized output),
    then TakeOrderedAndProject for the head; the rank window runs over the
    bounded `limit` frame only (GlobalLimit subtree — never a global
    window over unbounded input)."""
    from pyspark.sql import Window

    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    )
    top = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(_ZIPF_TOPK)
    )
    w_rk = Window.orderBy(F.col("freq").desc(), "w")
    return (
        top.select("w", "freq", F.row_number().over(w_rk).cast("long").alias("rank"))
        .select(
            "w",
            "freq",
            "rank",
            (F.col("freq") * F.col("rank")).cast("long").alias("rank_freq_product"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; the Chen &
# Goodman 1998 interpolated form with one fixed discount):
#
#   P(w2|w1) = max(c(w1,w2) - d, 0)/c(w1)
#              + [d * N1+(w1, .) / c(w1)] * [N1+(., w2) / B]
#
# where N1+(w1, .) = distinct continuations of w1, N1+(., w2) = distinct
# histories of w2, B = distinct bigram count, d = 0.75 (the standard fixed
# discount). KN's continuation probability is THE published fix for
# add-k/MLE overestimating frequent-unigram continuations — next to
# text_bigram_perplexity's MLE bit-lattice this is the smoothed LM a
# quality-filtering pipeline actually trains.
#
# Determinism: every input to P is an exact BIGINT count; P is a fixed
# dag of IEEE divisions/multiplications written IDENTICALLY on both
# engines, then floored onto a 1e9 lattice BEFORE the per-doc SUM — the
# sum is exact integer arithmetic, so no accumulation-order drift.
_KN_D = 0.75
_KN_SCALE = 1_000_000_000


@register(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i)
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2),
    pc AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cp,
                  CAST(COUNT(*) AS BIGINT) AS n1p_fwd
           FROM bc GROUP BY w1),
    hist AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_back FROM bc GROUP BY w2),
    btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bc),
    scored AS (
      SELECT g.doc_id,
             -- CASTs pin the arithmetic to DOUBLE: DuckDB folds the 0.75
             -- literal in DECIMAL otherwise, while Spark computes DOUBLE
             CAST(FLOOR((
               GREATEST(bc.c - CAST({_KN_D} AS DOUBLE), 0) / pc.cp
               + (CAST({_KN_D} AS DOUBLE) * pc.n1p_fwd / pc.cp)
                 * (CAST(hist.n1p_back AS DOUBLE) / btot.b)
             ) * {_KN_SCALE}) AS BIGINT) AS p_scaled
      FROM bg g
      JOIN bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
      JOIN pc ON pc.w1 = g.w1
      JOIN hist ON hist.w2 = g.w2
      CROSS JOIN btot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trans,
           CAST(SUM(p_scaled) AS BIGINT) AS kn_sum_scaled,
           -- FLOOR, not bare CAST: DuckDB's double->BIGINT cast ROUNDS
           CAST(FLOOR(CAST(SUM(p_scaled) AS DOUBLE) / COUNT(*))
                AS BIGINT) AS kn_mean_scaled
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "perplexity", "kneser-ney"),
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean interpolated-KN transition likelihood on the 1e9
    integer lattice. Plan shape matches text_bigram_perplexity — count
    tables are distinct-bigram- / vocabulary-sized partial aggs, scoring
    is three equi-joins against them plus one 1-row total (AQE broadcasts
    the measured-small sides), then one per-doc partial agg. Single-token
    docs have no transitions and drop out."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    idx = F.when(
        F.size("w") >= 2, F.sequence(F.lit(0), F.size(F.col("w")) - 2)
    ).otherwise(F.array().cast("array<int>"))
    # bg feeds the bigram-count build AND the final scoring join (2 refs);
    # bc feeds pc, hist, btot and the scoring join (4 refs) — without the
    # checkpoints each reference re-runs the explode (+ the bc shuffle).
    # bg is narrow (doc_id, w1, w2) rows; bc is distinct-bigram-sized.
    bg = toks.select("doc_id", F.explode(idx).alias("i"), "w").select(
        "doc_id",
        F.element_at("w", F.col("i") + 1).alias("w1"),
        F.element_at("w", F.col("i") + 2).alias("w2"),
    ).localCheckpoint(eager=False)
    bc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    pc = bc.groupBy("w1").agg(
        F.sum("c").cast("long").alias("cp"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    hist = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p_back"))
    btot = bc.agg(F.count(F.lit(1)).cast("long").alias("b"))
    p = (
        F.greatest(F.col("c") - _KN_D, F.lit(0.0)) / F.col("cp")
        + (F.lit(_KN_D) * F.col("n1p_fwd") / F.col("cp"))
        * (F.col("n1p_back").cast("double") / F.col("b"))
    )
    scored = (
        bg.join(bc, ["w1", "w2"])
        .join(pc, "w1")
        .join(hist, "w2")
        .crossJoin(F.broadcast(btot))
        .select("doc_id", F.floor(p * _KN_SCALE).cast("long").alias("p_scaled"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trans"),
            F.sum("p_scaled").cast("long").alias("kn_sum_scaled"),
        )
        .select(
            "doc_id",
            "n_trans",
            "kn_sum_scaled",
            F.floor(F.col("kn_sum_scaled") / F.col("n_trans"))
            .cast("long")
            .alias("kn_mean_scaled"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Lexical diversity profile: type-token ratio (TTR) and hapax-legomenon
# proportion per document — the classic lexical-richness pair (Templin 1957
# TTR; hapax rate is the V1/V head of the frequency spectrum that drives
# Heaps/Zipf fits). In a curation pipeline low TTR flags template/boilerplate
# expansion and machine-generated repetition that the quality classifier's
# length/stopword features miss.
#
# Exact arithmetic: token counts and distinct counts are integers; the two
# ratios are single divisions rounded once.


@register(
    "text_lexical_diversity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
           FROM toks GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS ttr,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS hapax_ratio
    FROM tf
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "lexical-diversity"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TTR + hapax proportion. Plan: explode -> per-(doc, token)
    partial agg -> per-doc partial agg; both aggregates map-side combine,
    nothing is corpus-squared."""
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    tf = toks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            hapax.alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 4
            ).alias("ttr"),
            F.round(
                F.col("n_hapax").cast("double") / F.col("n_types"), 4
            ).alias("hapax_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# algorithm): over the sequence of k-gram hashes, slide a window of w
# consecutive hashes and record each window's MINIMUM (ties -> rightmost).
# The guarantee: any shared substring of length >= w + k - 1 between two
# documents shares at least one fingerprint, while only ~2/(w+1) of all
# k-grams are kept — local, position-robust document fingerprinting (the
# gap text_fingerprint's global min and text_shingle_min_fingerprint's
# per-doc min leave open).
#
# Determinism: the selection key is ONE BIGINT, hash * 2^17 + (2^17-1 -
# pos-within-doc) — integer MIN over a ROWS frame implements "min hash,
# rightmost position" exactly, identically on both engines. Window MIN
# over a fixed ROWS frame is a single pass; no per-window explosion.
_WIN_K = 3       # k-gram width (tokens)
_WIN_W = 4       # winnowing window (hashes per window)
_WIN_POS = 1 << 17   # > max k-grams per document at any tested SF


def winnow_fingerprints(toks: DataFrame) -> DataFrame:
    """(doc_id, n_kg, win_min) winnowing selection frame from (doc_id, w)
    token arrays — shared by the profile query and the overlap dedup so
    the selection rule cannot drift. win_min packs (hash, reversed pos);
    win_min DIV 2^17 recovers the position-free fingerprint HASH."""
    idx = F.when(
        F.size("w") >= _WIN_K,
        F.sequence(F.lit(1), F.size("w") - (_WIN_K - 1)),
    ).otherwise(F.array().cast("array<int>"))
    kgram = F.concat_ws(
        " ", *[F.element_at("w", F.col("pos") + j) for j in range(_WIN_K)]
    )
    kg = (
        toks.select("doc_id", F.explode(idx).alias("pos"), "w")
        .select(
            "doc_id",
            "pos",
            (
                F.conv(F.substring(F.md5(kgram), 1, 10), 16, 10).cast("long")
                * _WIN_POS
                + (F.lit(_WIN_POS - 1) - F.col("pos"))
            ).alias("key"),
        )
    )
    wd = Window.partitionBy("doc_id")
    wf = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    wins = kg.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(wd).alias("n_kg"),
        F.min("key").over(wf).alias("win_min"),
    )
    return (
        wins.filter(F.col("pos") <= F.col("n_kg") - (_WIN_W - 1))
        .select("doc_id", "n_kg", "win_min")
        .groupBy("doc_id", "win_min")
        .agg(F.max("n_kg").alias("n_kg"))
    )


@register(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    kg AS (
      SELECT doc_id, i AS pos,
             CAST(concat('0x', substr(md5(array_to_string(
               w[i:i+{_WIN_K - 1}], ' ')), 1, 10)) AS BIGINT)
               * {_WIN_POS} + ({_WIN_POS} - 1 - i) AS key
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - {_WIN_K - 1})) AS i)
      WHERE len(w) >= {_WIN_K}
    ),
    wins AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_kg,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS win_min
      FROM kg
    ),
    fp AS (
      SELECT DISTINCT doc_id, win_min
      FROM wins WHERE pos <= n_kg - {_WIN_W - 1}
    )
    SELECT doc_id,
           CAST(MAX(n_kg) AS BIGINT) AS n_kgrams,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_kg), 4) AS density,
           CAST(MIN(win_min) AS BIGINT) AS fp_min,
           CAST(MAX(win_min) AS BIGINT) AS fp_max
    FROM fp JOIN (SELECT doc_id AS d2, MAX(n_kg) AS n_kg FROM wins GROUP BY doc_id) s
      ON s.d2 = fp.doc_id
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "fingerprint", "winnowing"),
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprint profile: k-gram count, selected
    fingerprint count, density (expectation 2/(w+1)), and min/max
    fingerprint keys as checksums. Plan: one per-doc window pass over
    k-gram positions (the only shuffle), then a distinct + per-doc agg."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    fp = winnow_fingerprints(toks)
    return (
        fp.groupBy("doc_id")
        .agg(
            F.max("n_kg").cast("long").alias("n_kgrams"),
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
            F.min("win_min").cast("long").alias("fp_min"),
            F.max("win_min").cast("long").alias("fp_max"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            "n_fingerprints",
            F.round(
                F.col("n_fingerprints").cast("double") / F.col("n_kgrams"), 4
            ).alias("density"),
            "fp_min",
            "fp_max",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Language-ID evaluation metrics: per-class precision/recall/F1 of the
# stopword classifier against the corpus's ground-truth lang column (the
# documents table doubles as a labeled eval set). text_lang_id emits the
# raw confusion matrix; this is the metric layer a pipeline actually
# gates on — and the same plan works for ANY classifier column pair.
# tp/fp/fn are exact integers; P/R/F1 are one fixed double dag each.


def _langid_pred_sql() -> str:
    return f"""
    scores AS (
      SELECT doc_id, lang AS lang_true, s.key AS lang_pred, s.cnt
      FROM documents, LATERAL (
        SELECT * FROM (VALUES
          {",".join(
            "('" + lang + "', " + " + ".join(_sw_count_sql(w) for w in words) + ")"
            for lang, words in sorted(_STOPWORDS.items())
          )}
        ) AS t(key, cnt)
      ) s
    ), pred AS (
      SELECT doc_id, lang_true, lang_pred FROM (
        SELECT doc_id, lang_true, lang_pred,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, lang_pred) AS rn
        FROM scores
      ) WHERE rn = 1
    )"""


@register(
    "text_langid_metrics",
    oracle=f"""
    WITH {_langid_pred_sql()},
    cm AS (
      SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang_true, lang_pred
    ),
    per_class AS (
      -- metrics from the label^2-sized matrix, never the doc-sized frame
      SELECT l.lang,
             CAST(SUM(CASE WHEN c.lang_true = l.lang
                            AND c.lang_pred = l.lang THEN c.n ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN c.lang_true <> l.lang
                            AND c.lang_pred = l.lang THEN c.n ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN c.lang_true = l.lang
                            AND c.lang_pred <> l.lang THEN c.n ELSE 0 END)
                  AS BIGINT) AS fn
      FROM cm c CROSS JOIN (SELECT DISTINCT lang_true AS lang FROM cm) l
      GROUP BY l.lang
    )
    SELECT lang, tp, fp, fn,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 4) AS precision,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 4) AS recall,
           ROUND(2.0 * tp / NULLIF(2.0 * tp + fp + fn, 0), 4) AS f1
    FROM per_class
    ORDER BY lang
    """,
    tags=("text", "langid", "evaluation"),
)
def text_langid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language P/R/F1 of the stopword lang-ID against ground truth.
    Plan: the lang_id projection (no shuffle), one small cross join
    against the 5-language label frame, one per-class aggregate."""
    docs = _docs(spark, sf_dir)
    lang_scores = [
        F.struct(
            sum((_sw_count_spark(w) for w in words), F.lit(0)).alias("cnt"),
            F.lit(-i).alias("tie"),
            F.lit(lang).alias("lang_pred"),
        )
        for i, (lang, words) in enumerate(sorted(_STOPWORDS.items()))
    ]
    best = F.array_max(F.array(*lang_scores))
    pred = docs.select(
        F.col("lang").alias("lang_true"), best["lang_pred"].alias("lang_pred")
    )
    # doc-sized work ends at the confusion matrix (<= labels^2 rows);
    # metrics are computed from the tiny matrix, so the 5-way label
    # cross join never touches (or recomputes the scorer over) the corpus
    cm = pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    labels = cm.select(F.col("lang_true").alias("lang")).distinct()
    per_class = (
        cm.crossJoin(labels)
        .groupBy("lang")
        .agg(
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("lang"))
                    & (F.col("lang_pred") == F.col("lang")),
                    F.col("n"),
                ).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when(
                    (F.col("lang_true") != F.col("lang"))
                    & (F.col("lang_pred") == F.col("lang")),
                    F.col("n"),
                ).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when(
                    (F.col("lang_true") == F.col("lang"))
                    & (F.col("lang_pred") != F.col("lang")),
                    F.col("n"),
                ).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    return per_class.select(
        "lang", "tp", "fp", "fn",
        # NULLIF: a label never predicted (tp + fp = 0) yields NULL under
        # ANSI too, instead of a DIVIDE_BY_ZERO error
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            4,
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
            4,
        ).alias("recall"),
        F.round(
            2.0 * F.col("tp")
            / F.nullif(2.0 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
            4,
        ).alias("f1"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Heaps' law fit (Heaps 1978; Herdan 1960): vocabulary growth V(n) ~ K n^b.
# Two-point estimate on deterministic corpus prefixes (docs ordered by
# doc_id; the half/full split is reproducible at any parallelism):
#   b = log(V_full / V_half) / log(n_full / n_half),  K = V / n^b.
# The exponent is THE summary statistic for "how fast does my vocabulary
# (and tokenizer pressure) grow with corpus size" — sublinear b ~ 0.4-0.6
# for natural text; b near 1 flags id-like/noise token streams.
#
# Determinism: V and n are exact integers; b and K are one fixed double
# dag (log/exp of exact-integer ratios written identically both sides —
# same-expression IEEE determinism as the CCF/ACF family), ROUND 4.


@register(
    "text_heaps_law",
    oracle="""
    WITH bounds AS (
      SELECT CAST(FLOOR(MAX(doc_id) / 2) AS BIGINT) AS mid FROM documents
    ),
    toks AS (
      SELECT d.doc_id,
             UNNEST(string_split_regex(trim(lower(d.text)), '\\s+')) AS w
      FROM documents d
    ),
    half AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM toks CROSS JOIN bounds WHERE doc_id <= mid
    ),
    full_c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS v
      FROM toks
    )
    SELECT h.n_tok AS n_half, h.v AS v_half,
           f.n_tok AS n_full, f.v AS v_full,
           ROUND(ln(CAST(f.v AS DOUBLE) / h.v)
                 / ln(CAST(f.n_tok AS DOUBLE) / h.n_tok), 4) AS beta,
           ROUND(f.v / exp((ln(CAST(f.v AS DOUBLE) / h.v)
                            / ln(CAST(f.n_tok AS DOUBLE) / h.n_tok))
                           * ln(CAST(f.n_tok AS DOUBLE))), 4) AS k
    FROM half h CROSS JOIN full_c f
    """,
    tags=("text", "heaps", "vocabulary"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-point Heaps fit over the doc_id-half and full corpus: one
    token explode feeding two (count, distinct-count) aggregates — both
    map-side-combining; the fit itself is a 1-row computation. On the
    driver's synthetic corpus the vocabulary saturates (31 types at every
    SF), so beta reads 0.0 — the degenerate-vocabulary flag the probe
    exists to raise; natural text reads ~0.4-0.6."""
    docs = _docs(spark, sf_dir)
    mid = docs.agg(
        F.floor(F.max("doc_id") / 2).cast("long").alias("mid")
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w"),
    )
    half = (
        toks.crossJoin(F.broadcast(mid))
        .filter(F.col("doc_id") <= F.col("mid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_half"),
            F.countDistinct("w").cast("long").alias("v_half"),
        )
    )
    full_c = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_full"),
        F.countDistinct("w").cast("long").alias("v_full"),
    )
    j = half.crossJoin(F.broadcast(full_c))
    beta = F.log(F.col("v_full").cast("double") / F.col("v_half")) / F.log(
        F.col("n_full").cast("double") / F.col("n_half")
    )
    k = F.col("v_full") / F.exp(beta * F.log(F.col("n_full").cast("double")))
    return j.select(
        "n_half", "v_half", "n_full", "v_full",
        F.round(beta, 4).alias("beta"),
        F.round(k, 4).alias("k"),
    )
