"""Corpus-curation operators over `documents` — chunking, benchmark
contamination, frequency scoring, deterministic stratified sampling.

Net-new Spark-first capabilities for the training-data pipeline (the
reference has no text surface, SURVEY.md §2.9). Everything is JVM-side
built-ins (split / sequence / transform / slice / explode / md5) — no
Python UDFs — so the plans whole-stage-codegen and shuffle only where the
semantics require it:

  * chunking:          narrow map + per-doc explode. NO shuffle.
  * contamination:     shingle explode -> broadcast semi-join against the
                       (small) benchmark shingle set -> per-doc partial agg.
                       One shuffle (the groupBy), benchmark side broadcast.
  * commonness score:  two-pass vocabulary join — vocab counts (shuffle on
                       word, partial-agg friendly), broadcast back onto the
                       exploded tokens, per-doc agg. The vocabulary is the
                       ONLY state that grows sublinearly with corpus size,
                       so the broadcast holds at 100 TB (vocab ~ millions,
                       not billions); if it ever exceeds broadcast limits
                       the same plan degrades gracefully to a shuffle join.
  * stratified sample: pure filter on md5(doc_id) — deterministic,
                       reproducible, pushes the source predicate to the
                       scan, and needs NO coordination (vs. sampleBy which
                       is seeded per-partition and not oracle-checkable).

All four are DuckDB-oracle-checked (integer/string outputs only — no
float aggregates, so the hashes are exact).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register, register_sql

# chunk geometry: 40-token windows, stride 30 (10-token overlap) — the
# standard RAG/training-window shape, scaled to the synthetic corpus.
_CHUNK = 40
_STRIDE = 30
_NGRAM = 5  # contamination shingle width


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _words(col: str = "text", lower: bool = False):
    """THE tokenizer — shared by batch (this module) and streaming
    (streaming/curate_stream.py); parity depends on one definition."""
    base = F.trim(F.col(col))
    if lower:
        base = F.lower(base)
    return F.split(base, r"\s+")


def shingle_expr(words, n: int = _NGRAM):
    """Array of n-gram shingles over a words array column — shared with the
    streaming contamination check."""
    return F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda s: F.array_join(F.slice(words, s, n), " "),
    )


# ---------------------------------------------------------------------------
@register(
    "curate_chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
               FROM documents WHERE doc_id < 100),
    g AS (SELECT doc_id, w,
                 unnest(generate_series(0, CAST(floor((len(w) - 1) / {_STRIDE}) AS BIGINT))) AS ci
          FROM t)
    SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
           array_to_string(w[ci * {_STRIDE} + 1 : ci * {_STRIDE} + {_CHUNK}], ' ') AS chunk,
           CAST(least({_CHUNK}, len(w) - ci * {_STRIDE}) AS INTEGER) AS n_tokens
    FROM g
    """,
    tags=("curate", "chunking"),
)
def curate_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 40, stride 30) — the
    training-window / RAG splitter. Pure narrow map: split -> per-doc chunk
    index sequence -> slice; no shuffle, scales with the scan."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("doc_id") < 100)
        .select("doc_id", _words().alias("w"))
        .select(
            "doc_id",
            "w",
            F.posexplode(
                F.sequence(F.lit(0), F.floor((F.size("w") - 1) / _STRIDE).cast("int"))
            ).alias("pos", "ci"),
        )
        .select(
            "doc_id",
            F.col("ci").alias("chunk_idx"),
            F.array_join(F.slice("w", F.col("ci") * _STRIDE + 1, _CHUNK), " ").alias("chunk"),
            F.least(F.lit(_CHUNK), F.size("w") - F.col("ci") * _STRIDE).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
@register(
    "curate_contamination_check",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
    g AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_NGRAM - 1})) AS s
          FROM t WHERE len(w) >= {_NGRAM}),
    sh AS (SELECT doc_id, array_to_string(w[s : s + {_NGRAM - 1}], ' ') AS sh FROM g),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM sh s WHERE s.doc_id >= 20 AND s.sh IN (SELECT sh FROM bench)
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
    tags=("curate", "contamination"),
)
def curate_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: training docs (doc_id >= 20) sharing any
    5-gram with the benchmark set (doc_id < 20), with hit counts. The
    benchmark shingle set is the SMALL side by construction (eval suites are
    thousands of docs, the corpus is billions) — distinct once, broadcast
    into a left-semi join against the exploded corpus shingles; never an
    all-pairs comparison."""
    docs = _docs(spark, sf_dir)
    sh = (
        docs.select("doc_id", _words(lower=True).alias("w"))
        .filter(F.size("w") >= _NGRAM)
        .select("doc_id", F.explode(shingle_expr(F.col("w"))).alias("sh"))
    )
    bench = sh.filter(F.col("doc_id") < 20).select("sh").distinct()
    # No broadcast hint: the bench shingle set is small by construction but
    # derived from a scaling scan — let AQE broadcast it when it measures
    # small instead of forcing a plan that cannot fall back.
    return (
        sh.filter(F.col("doc_id") >= 20)
        .join(bench, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
@register(
    "curate_commonness_score",
    oracle="""
    WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
               FROM documents),
    v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY w)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(cnt) AS BIGINT) AS total_freq,
           CAST(MIN(cnt) AS BIGINT) AS rarest_freq
    FROM w JOIN v USING (w) WHERE doc_id < 150 GROUP BY doc_id
    """,
    tags=("curate", "scoring"),
)
def curate_commonness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-based quality proxy (the integer-exact cousin of a unigram
    perplexity score): per-doc token count, summed corpus frequency of its
    tokens, and the corpus frequency of its rarest token. Two-pass
    vocabulary dataflow — the distributed shape of every count-based LM
    scoring job. Integer outputs keep the DuckDB hash exact (a log-prob
    variant would hit float-summation-order divergence)."""
    docs = _docs(spark, sf_dir)
    w_ex = docs.select(
        "doc_id", F.explode(_words(lower=True)).alias("w")
    )
    # No broadcast hint: the vocabulary grows with the corpus (sub-linearly,
    # but unbounded) — a forced broadcast cannot fall back at 100 TB. AQE
    # broadcasts it at small SF where it measures under the threshold.
    vocab = w_ex.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        w_ex.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("total_freq"),
            F.min("cnt").alias("rarest_freq"),
        )
        .filter(F.col("doc_id") < 150)
    )


# ---------------------------------------------------------------------------
@register(
    "curate_stratified_sample",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE source = 'src0'
       OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
    """,
    tags=("curate", "sampling"),
)
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep ALL of the priority stratum
    (source 'src0') and a ~3/16 hash-sample of everything else. md5(doc_id)
    makes the sample reproducible across runs/engines/cluster sizes with no
    seed coordination — the property `df.sample()` cannot give (per-partition
    seeding); the source predicate pushes to the scan."""
    docs = _docs(spark, sf_dir)
    return docs.filter(
        (F.col("source") == "src0")
        | F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1", "2")
    ).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Leakage-safe train/val split: near-duplicate documents must never straddle
# the split (a val doc with a train near-dup leaks the answer). Composition:
# n-gram Jaccard pair graph -> connected-components canonical id (both from
# pipeline/dedup.py) -> the SPLIT DECISION HASHES THE CANONICAL id, so every
# member of a near-dup cluster lands on the same side by construction.
# 100 TB shape: inherits the df-capped bucketed pair join and the min-label
# propagation (dedup.py:464); the split itself is a narrow map — no extra
# shuffle beyond the components computation. ~1/8 of clusters go to 'val'
# (first md5 hex char in 0-1), deterministic across runs/engines/cluster
# sizes. Oracle: the dedup_cluster_canonical recursive CTE plus a singleton
# left-join and the same md5 decision.
@register(
    "curate_leakage_safe_split",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), cold AS (
      SELECT sh FROM all_shingles GROUP BY sh HAVING COUNT(*) <= 10
    ), shingles AS (
      SELECT s.doc_id, s.sh FROM all_shingles s JOIN cold USING (sh)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), dup AS (
      SELECT d1, d2
      FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.12
    ), edges AS (
      SELECT d1 AS a, d2 AS b FROM dup UNION SELECT d2, d1 FROM dup
    ), reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ), canon AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
      FROM reach GROUP BY src
    )
    SELECT d.doc_id,
           CAST(COALESCE(c.canonical_id, d.doc_id) AS BIGINT) AS canonical_id,
           CASE WHEN substr(md5(CAST(COALESCE(c.canonical_id, d.doc_id) AS VARCHAR)), 1, 1)
                     IN ('0', '1')
                THEN 'val' ELSE 'train' END AS split
    FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
    LEFT JOIN canon c USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("curate", "split", "dedup"),
)
def curate_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hyrise_spark.pipeline.dedup import _ngram_jaccard_pairs, cluster_canonical

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    pairs = _ngram_jaccard_pairs(toks).select("d1", "d2")
    labels = cluster_canonical(pairs, "d1", "d2").withColumnRenamed(
        "canonical_id", "cluster_canon"
    )
    canon = F.coalesce(F.col("cluster_canon"), F.col("doc_id"))
    return (
        # No broadcast hint: labels has one row per doc in ANY near-dup
        # cluster — unbounded at corpus scale, so the label attach must stay
        # a shuffle join there; AQE still broadcasts it when it measures small.
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            canon.alias("canonical_id"),
            F.when(
                F.substring(F.md5(canon.cast("string")), 1, 1).isin("0", "1"), "val"
            )
            .otherwise("train")
            .alias("split"),
        )
        .orderBy("doc_id")
    )


# Sequence packing: group documents into fixed-capacity training examples.
# Packing geometry for the synthetic corpus; production = model context len.
_PACK_CAP = 256
_PACK_BUCKETS = 8


@register(
    "curate_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             LEAST(len(string_split_regex(trim(text), '\\s+')), {_PACK_CAP}) AS n_tok,
             doc_id % {_PACK_BUCKETS} AS bucket
      FROM documents
    ), c AS (
      SELECT doc_id, bucket, n_tok,
             SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
      FROM toks
    ), packs AS (
      SELECT doc_id, n_tok,
             CAST(bucket * 1099511627776 + FLOOR((cum - n_tok) / {_PACK_CAP}) AS BIGINT) AS pack_id
      FROM c
    )
    SELECT pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM packs GROUP BY pack_id ORDER BY pack_id
    """,
    tags=("curate", "packing"),
)
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing by cumulative token offset: documents
    are truncated to the pack capacity, bucketed by doc_id, and assigned to
    the pack where their cumulative offset STARTS (spillover packing — a doc
    crossing a boundary stays in its starting pack, the standard
    pack-then-split-at-trainer shape). 100 TB design: the window is
    PARTITIONED BY bucket, so there is no global sort — parallelism = bucket
    count (set to the cluster's partition count in production), one shuffle
    for the window + one partial-agg shuffle for the per-pack rollup, all
    JVM-side. Greedy first-fit packing would need a sequential scan per
    bucket; cumulative-offset packing is order-preserving, one-pass, and wastes no
    capacity except each bucket's final partial pack (per-bucket pack count
    <= ceil(bucket_tokens / cap), pinned in test_curate.py)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.least(F.size(_words()), F.lit(_PACK_CAP)).alias("n_tok"),
        (F.col("doc_id") % _PACK_BUCKETS).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    packs = toks.withColumn("cum", F.sum("n_tok").over(w)).select(
        "doc_id",
        "n_tok",
        # pack_id = (bucket, pack_idx) flattened into one BIGINT: 2^40 pack
        # slots per bucket (~1.1e12 packs = ~2.8e14 tokens/bucket at cap 256)
        # so the id never collides across buckets at any realistic bucket
        # size; a 100k multiplier would wrap at ~25.6M tokens/bucket.
        (
            F.col("bucket") * F.lit(1 << 40).cast("long")
            + F.floor((F.col("cum") - F.col("n_tok")) / _PACK_CAP)
        ).alias("pack_id"),
    )
    return (
        packs.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("pack_id")
    )


# ---------------------------------------------------------------------------
# Domain-mixture rebalancing: the "data mixing" step of a pretraining
# pipeline — given target domain proportions and a global token budget,
# derive per-domain acceptance rates and hash-sample documents to hit them.
# Sources map onto three synthetic domains; rates are
# min(1, weight_d * budget / tokens_d), so an under-represented domain keeps
# everything (capped at 1 — no upsampling here; replication factors would be
# a separate op) and over-represented domains downsample deterministically.
# 100 TB shape: the rate table is THREE rows (one aggregation over the
# corpus, partial-agg friendly), broadcast back into a narrow filter map —
# no shuffle of the documents themselves, decisions are md5-of-doc_id so
# any engine/cluster-size re-run selects the identical subset.
_MIX_WEIGHTS = {"web": 0.5, "books": 0.3, "code": 0.2}
_MIX_BUDGET_FRAC = 0.6  # target corpus = 60% of the total token count


def _mix_domain_sql() -> str:
    return ("CASE CAST(substr(source, 4) AS INT) % 3 WHEN 0 THEN 'web' "
            "WHEN 1 THEN 'books' ELSE 'code' END")


def _mix_domain():
    """THE domain rule as a Column — one definition for every consumer
    (mixture, DSIR, drift, streams); unbounded substring, mirroring the
    oracle's substr(source, 4) exactly."""
    src_num = F.expr("substring(source, 4)").cast("int")
    return (
        F.when(src_num % 3 == 0, "web")
        .when(src_num % 3 == 1, "books")
        .otherwise("code")
    )


_MIX_WEIGHT_SQL = ("CASE domain WHEN 'web' THEN 0.5 WHEN 'books' THEN 0.3 "
                   "ELSE 0.2 END")


@register(
    "curate_domain_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_mix_domain_sql()} AS domain,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    dom AS (SELECT domain, CAST(SUM(n_tok) AS BIGINT) AS d_tok FROM d GROUP BY domain),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_tok FROM d),
    rates AS (
      -- CASTs keep the arithmetic in DOUBLE: DuckDB would otherwise fold the
      -- 0.5/0.6 literals in DECIMAL while Spark computes DOUBLE, and a doc
      -- whose md5 accept value straddles the two rates would flap (ADVICE r6)
      SELECT domain,
             LEAST(1.0, CAST({_MIX_WEIGHT_SQL} AS DOUBLE)
                        * CAST({_MIX_BUDGET_FRAC} AS DOUBLE) * t_tok / d_tok) AS rate
      FROM dom CROSS JOIN tot
    )
    SELECT doc_id, domain, n_tok, ROUND(rate, 4) AS rate
    FROM d JOIN rates USING (domain)
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
          / 65536.0 < rate
    ORDER BY doc_id
    """,
    tags=("curate", "mixture", "sampling"),
)
def curate_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    domain = _mix_domain()
    d = docs.select(
        "doc_id", domain.alias("domain"), F.size(_words()).alias("n_tok")
    )
    dom = d.groupBy("domain").agg(F.sum("n_tok").cast("long").alias("d_tok"))
    tot = d.agg(F.sum("n_tok").cast("long").alias("t_tok"))
    weight = (
        F.when(F.col("domain") == "web", 0.5)
        .when(F.col("domain") == "books", 0.3)
        .otherwise(0.2)
    )
    rates = dom.crossJoin(F.broadcast(tot)).select(
        "domain",
        F.least(
            F.lit(1.0), weight * _MIX_BUDGET_FRAC * F.col("t_tok") / F.col("d_tok")
        ).alias("rate"),
    )
    accept = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("double") / 65536.0
    )
    # No hint on rates (3 rows, but derived from a scaling scan): AQE
    # broadcasts it at runtime from measured size.
    return (
        d.join(rates, "domain")
        .filter(accept < F.col("rate"))
        .select("doc_id", "domain", "n_tok", F.round("rate", 4).alias("rate"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Dedup survivor selection: a real dedup pipeline does not keep the MINIMUM
# doc id per near-dup cluster — it keeps the BEST copy (longest / highest
# quality) and drops the rest. Composes the same pair graph + connected
# components as dedup_cluster_canonical, then picks per cluster the doc
# with max n_chars (ties -> lowest doc_id); singleton docs survive as their
# own cluster. 100 TB shape: the components computation dominates (see
# dedup.py:455 — bucketed pair join, min-label propagation); survivor
# selection itself is one per-cluster window over the (doc, cluster, score)
# frame — partitioned by cluster, never global.
@register(
    "curate_dedup_keep_best",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), cold AS (
      SELECT sh FROM all_shingles GROUP BY sh HAVING COUNT(*) <= 10
    ), shingles AS (
      SELECT s.doc_id, s.sh FROM all_shingles s JOIN cold USING (sh)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), dup AS (
      SELECT d1, d2
      FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.12
    ), edges AS (
      SELECT d1 AS a, d2 AS b FROM dup UNION SELECT d2, d1 FROM dup
    ), reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ), canon AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS canonical_id
      FROM reach GROUP BY src
    ), labeled AS (
      SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS cluster_id,
             CAST(d.n_chars AS BIGINT) AS n_chars
      FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 300) d
      LEFT JOIN canon c USING (doc_id)
    ), ranked AS (
      SELECT doc_id, cluster_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      FROM labeled
    )
    SELECT doc_id AS survivor_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           cluster_size, n_chars
    FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """,
    tags=("curate", "dedup", "survivor"),
)
def curate_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hyrise_spark.pipeline.dedup import _ngram_jaccard_pairs, cluster_canonical

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    pairs = _ngram_jaccard_pairs(toks).select("d1", "d2")
    canon = cluster_canonical(pairs, "d1", "d2").withColumnRenamed(
        "canonical_id", "cluster_canon"
    )
    labeled = (
        docs.select("doc_id", F.col("n_chars").cast("long").alias("n_chars"))
        .join(canon, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_canon"), F.col("doc_id")).alias("cluster_id"),
            "n_chars",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("cluster_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("survivor_id"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "n_chars",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle: the "global shuffle before training" pass.
# Every document gets a pseudorandom but reproducible position inside one of
# N shards; re-running with the same epoch tag yields the identical order
# (resumable training), a different tag reshuffles everything.

# Shard count IS the parallelism of the per-shard sort (one window
# partition each), so production sizes it as corpus_bytes / target_task
# size — tens of thousands at 100 TB, not a constant. 64 here keeps the
# oracle compact while still exercising multi-doc shards at sf<=0.01
# (500 docs -> ~8 docs/shard).
_SHUF_SHARDS = 64
_SHUF_EPOCH = "epoch1"


@register(
    "curate_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('{_SHUF_EPOCH}|' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS k
      FROM documents
    )
    SELECT doc_id,
           CAST(k % {_SHUF_SHARDS} AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY k % {_SHUF_SHARDS}
                                   ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
    tags=("curate",),
)
def curate_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed global shuffle into training shards: shard = key mod N,
    position = rank of the key within the shard.

    Scale: the shuffle key is computed row-local; ordering happens INSIDE
    each shard partition (window partitioned by shard), so there is no
    global sort — N shards sort independently and in parallel, and N is
    also the parallelism, so production sets it from data volume (see
    _SHUF_SHARDS note). This is how a 100 TB corpus gets a reproducible
    training order: one hash pass + N parallel bounded sorts.
    """
    from pyspark.sql import Window

    keyed = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.lit(_SHUF_EPOCH), F.col("doc_id"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long").alias("k"),
        )
        .withColumn("shard", (F.col("k") % _SHUF_SHARDS).cast("int"))
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# Diversity sampling by embedding-space quota: cap the corpus at K vectors
# per LSH bucket. SemDeDup removes near-identical pairs; this op bounds
# DENSITY — an over-represented region of embedding space (boilerplate,
# templated text, one scraped site) contributes at most K survivors, while
# sparse regions are untouched. The standard cheap diversity pass before
# expensive curation stages.
#
# Scale: bucket = 9-bit hyperplane signature (similarity.py's md5-parity
# planes, a literal in both engines) — a per-row expression; the cap is a
# per-bucket ranking window (partitioned, bounded survivors), never a
# global sort. Survivor choice ranks by md5(vec_id) — deterministic,
# uniform, and independent of ingestion order, so it depends only on
# bucket MEMBERSHIP, which is engine-identical even though the two
# engines pack signature bits in different orders (any bijection of
# bucket ids yields the same membership sets).

_DIVERSITY_CAP = 3


def _diversity_oracle() -> str:
    from hyrise_spark.pipeline.similarity import _bucket_sql

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (SELECT vec_id, {_bucket_sql('v')} AS bucket FROM e)
    SELECT vec_id, CAST(rn AS INT) AS bucket_rank, rn <= {_DIVERSITY_CAP} AS kept
    FROM (
      SELECT vec_id,
             ROW_NUMBER() OVER (PARTITION BY bucket
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM sig
    )
    """


@register(
    "curate_diversity_bucket_cap",
    oracle=_diversity_oracle(),
    tags=("curate", "diversity"),
)
def curate_diversity_bucket_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hyrise_spark.pipeline.similarity import _bucket_spark

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = F.col("embedding").cast("array<double>")
    sig = emb.select("vec_id", _bucket_spark(v).alias("bucket"))
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        sig.withColumn("bucket_rank", F.row_number().over(w))
        .select(
            "vec_id",
            F.col("bucket_rank").cast("int").alias("bucket_rank"),
            (F.col("bucket_rank") <= _DIVERSITY_CAP).alias("kept"),
        )
    )




# ---------------------------------------------------------------------------
# Hashed importance resampling (DSIR, Xie et al. 2023, arXiv:2302.03169):
# score raw documents by how much their hashed-unigram distribution looks
# like a TARGET domain's, then keep high-scorers. The production form
# resamples web-scale raw text toward a books/wiki target before training.
#
# Integer contract: per-token affinity = ((tgt_b + 1) * 4096) // (raw_b + 1)
# — the add-1-smoothed target/raw ratio on a 4096ths lattice (the paper's
# log-ratio sum is the float form; the linear-sum lattice keeps the
# differential exact). On this driver corpus the domains share one
# synthetic vocabulary, so between-domain separation is small by
# construction — the corpus-midpoint threshold still splits ~half, which is
# what the keep flag pins. The 64-bucket feature table is CONSTANT-sized:
# both count frames collapse to <= 64 rows before joining tokens.

_DSIR_BUCKETS = 64
_DSIR_SCALE = 4096
# keep = docs whose mean per-token affinity exceeds the CORPUS mean
# (cross-multiplied integers — no division, no per-SF constant): the
# resampling decision self-calibrates to whatever corpus it runs on.


@register(
    "curate_importance_resample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_mix_domain_sql()} AS domain,
             CAST(concat('0x', substr(md5(
               unnest(string_split_regex(trim(lower(text)), '\\s+'))), 1, 15))
               AS BIGINT) % {_DSIR_BUCKETS} AS b
      FROM documents
    ),
    tgt AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS tc FROM toks
      WHERE domain = 'books' GROUP BY b
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM toks GROUP BY b),
    scored AS (
      SELECT t.doc_id, t.domain,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(((COALESCE(tgt.tc, 0) + 1) * {_DSIR_SCALE}) // (raw.rc + 1))
                  AS BIGINT) AS dsir_score
      FROM toks t
      LEFT JOIN tgt ON tgt.b = t.b
      JOIN raw ON raw.b = t.b
      GROUP BY t.doc_id, t.domain
    ),
    corpus AS (
      SELECT CAST(SUM(n_tok) AS BIGINT) AS t_tok,
             CAST(SUM(dsir_score) AS BIGINT) AS t_score
      FROM scored
    )
    SELECT doc_id, domain, n_tok, dsir_score,
           CAST(dsir_score * corpus.t_tok > n_tok * corpus.t_score AS BOOLEAN)
             AS keep
    FROM scored CROSS JOIN corpus
    ORDER BY doc_id
    """,
    tags=("curate", "dsir"),
)
def curate_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed importance scores with target = the 'books'
    domain. Scale: the target and raw unigram-bucket tables are <= 64 rows
    each (hashing caps the feature space — the paper's core trick), so
    scoring any corpus is one narrow token pass joined against two
    constant frames + one per-doc partial agg."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "doc_id",
        _mix_domain().alias("domain"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).select(
        "doc_id",
        "domain",
        (
            F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    # Materialize the token pass once: it feeds the bucket-count build AND
    # the per-doc scoring join — without the checkpoint the docs scan +
    # split + explode + md5 runs twice (three times before the tgt/raw
    # fusion below). Narrow (doc_id, domain, b) rows.
    toks = toks.localCheckpoint(eager=False)
    # tgt and raw fused into ONE bucket aggregation (was two separate
    # passes over toks): tc = conditional count of 'books' tokens per
    # bucket. count(CASE WHEN ...) yields 0 where the old LEFT JOIN gave
    # NULL — identical through the existing coalesce(tc, 0).
    buckets = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.count(F.when(F.col("domain") == "books", F.lit(1))).alias("tc"),
    )
    affinity = F.expr(
        f"((coalesce(tc, CAST(0 AS BIGINT)) + 1) * {_DSIR_SCALE}) div (rc + 1)"
    )
    scored = (
        toks.join(F.broadcast(buckets), "b")  # <= 64 rows by construction
        .groupBy("doc_id", "domain")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(affinity).alias("dsir_score"),
        )
        # consumed twice (corpus-mean scalar + final select)
        .localCheckpoint(eager=False)
    )
    corpus = scored.agg(
        F.sum("n_tok").alias("t_tok"), F.sum("dsir_score").alias("t_score")
    )
    return (
        scored.crossJoin(F.broadcast(corpus))  # scalar aggregate: one row
        .select(
            "doc_id",
            "domain",
            "n_tok",
            "dsir_score",
            (
                F.col("dsir_score") * F.col("t_tok")
                > F.col("n_tok") * F.col("t_score")
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Distribution drift monitoring — the data-quality gate a production corpus
# pipeline runs on every new snapshot: compare each domain's hashed-unigram
# distribution against the whole-corpus reference distribution and alarm on
# divergence. PSI/KL need logs (float drift across engines); total-variation
# distance TV = 1/2 * Σ_b |p_dom(b) - p_ref(b)| is norm-equivalent for
# alarming and stays EXACT on a basis-points lattice: per-bucket shares are
# (cnt * 10000) div total, so the whole check is integer arithmetic. Both
# distribution frames collapse to <= 64 rows per domain before comparison.

_DRIFT_BPS = 160  # alarm at TV distance > 1.6% — calibrated so the flag
# separates on the driver corpus (sf0.001: web drifts, books/code do not;
# sf0.01: books/code drift, web does not); production recalibrates per corpus


@register(
    "curate_distribution_drift",
    oracle=f"""
    WITH toks AS (
      SELECT {_mix_domain_sql()} AS domain,
             CAST(concat('0x', substr(md5(
               unnest(string_split_regex(trim(lower(text)), '\\s+'))), 1, 15))
               AS BIGINT) % {_DSIR_BUCKETS} AS b
      FROM documents
    ),
    dom AS (
      SELECT domain, b, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
    ),
    dom_tot AS (SELECT domain, CAST(SUM(c) AS BIGINT) AS t FROM dom GROUP BY domain),
    ref AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY b),
    ref_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM ref),
    deltas AS (
      SELECT d.domain,
             ABS((d.c * 10000) // dt.t - (r.c * 10000) // rt.t) AS adelta
      FROM dom d
      JOIN dom_tot dt ON dt.domain = d.domain
      JOIN ref r ON r.b = d.b
      CROSS JOIN ref_tot rt
    )
    SELECT domain,
           CAST(SUM(adelta) // 2 AS BIGINT) AS tv_bps,
           CAST(SUM(adelta) // 2 > {_DRIFT_BPS} AS BOOLEAN) AS drifted
    FROM deltas GROUP BY domain ORDER BY domain
    """,
    tags=("curate", "drift"),
)
def curate_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain total-variation distance (basis points) between the
    domain's hashed-unigram distribution and the corpus reference, with a
    drift alarm. Scale: one token pass builds both count frames; everything
    after is 64-row arithmetic per domain. (Buckets missing from a domain
    contribute their reference mass to TV in the full formula; with 64
    buckets over any real corpus slice every bucket is populated — the
    inner join is the measured contract, and the alarm threshold absorbs
    the vanishing tail either way.)"""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        _mix_domain().alias("domain"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).select(
        "domain",
        (
            F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    dom = toks.groupBy("domain", "b").agg(F.count(F.lit(1)).alias("c"))
    # dom is the hub: the per-domain totals AND the reference distribution
    # are rollups of it (sum of per-domain bucket counts == the direct
    # bucket count — exact integer associativity), so the token pass runs
    # ONCE. Previously `ref` re-aggregated `toks` directly, which
    # re-evaluated the scan + split + explode + md5 a second time.
    dom = dom.localCheckpoint(eager=False)
    dom_tot = dom.groupBy("domain").agg(F.sum("c").alias("t"))
    ref = dom.groupBy("b").agg(F.sum("c").alias("rc"))
    ref_tot = ref.agg(F.sum("rc").alias("rt"))
    deltas = (
        dom.join(dom_tot, "domain")
        .join(ref, "b")
        .crossJoin(F.broadcast(ref_tot))  # scalar aggregate: one row
        .select(
            "domain",
            F.abs(
                F.expr("(c * 10000) div t") - F.expr("(rc * 10000) div rt")
            ).alias("adelta"),
        )
    )
    return (
        deltas.groupBy("domain")
        .agg(F.floor(F.sum("adelta") / 2).cast("long").alias("tv_bps"))
        .select(
            "domain", "tv_bps", (F.col("tv_bps") > _DRIFT_BPS).alias("drifted")
        )
        .orderBy("domain")
    )


# ---------------------------------------------------------------------------
# Priority sampling (Duffield, Lund, Thorup 2007) — weighted sample of k
# documents with Horvitz-Thompson-adjustable inclusion: priority q_i =
# w_i / u_i with u_i uniform, keep the k largest, and the (k+1)-th priority
# tau yields the unbiased subset-sum estimator weight max(w_i, tau). The
# deterministic u_i = (h+1)/2^48 comes from a 48-bit md5 slice (the /2^48
# normalization is a power-of-two scale — exact — putting tau on the weight
# scale the estimator needs); q is then ONE IEEE-754 double division
# (correctly rounded, bit-identical in Spark and DuckDB — no transcendental
# anywhere), so the sample is exactly reproducible.

_PRIO_K = 64
_PRIO_SALT = "prio:"
_PRIO_SCALE = 1 << 48


@register(
    "curate_priority_sample",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
               AS weight,
             CAST(CAST('0x' || substr(md5('{_PRIO_SALT}' || CAST(doc_id AS VARCHAR)), 1, 12)
                  AS BIGINT) + 1 AS DOUBLE) / {_PRIO_SCALE} AS u
      FROM documents
    ),
    q AS (
      SELECT doc_id, weight, CAST(weight AS DOUBLE) / u AS priority
      FROM w
    ),
    topk1 AS (
      SELECT doc_id, weight, priority,
             ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rk
      FROM q ORDER BY priority DESC, doc_id LIMIT {_PRIO_K} + 1
    ),
    tau AS (SELECT priority AS tau FROM topk1 WHERE rk = {_PRIO_K} + 1)
    SELECT t.doc_id, t.weight,
           CASE WHEN CAST(t.weight AS DOUBLE) > tau.tau
                THEN CAST(t.weight AS DOUBLE) ELSE tau.tau END AS ht_weight
    FROM topk1 t CROSS JOIN tau
    WHERE t.rk <= {_PRIO_K}
    ORDER BY t.doc_id
    """,
    tags=("curate", "sampling"),
)
def curate_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample of `_PRIO_K` docs by token count with
    the Horvitz-Thompson estimator weight max(w, tau).

    Scale: the per-doc (weight, priority) computation is row-local; the
    top-(k+1) selection is TakeOrderedAndProject (per-partition heaps, no
    global sort); the rank + tau extraction run over the k+1-row bounded
    frame (GlobalLimit subtree — lint-recognized bounded input). At 100 TB
    the only corpus-scale work is one scan."""
    docs = _docs(spark, sf_dir)
    q = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("long")
        .alias("weight"),
        (
            F.col("doc_id")
            .cast("long")
            .cast("string")  # match the oracle's CAST(doc_id AS VARCHAR)
        ).alias("sid"),
    ).select(
        "doc_id",
        "weight",
        (
            F.col("weight").cast("double")
            / (
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(_PRIO_SALT), F.col("sid"))), 1, 12
                        ),
                        16,
                        10,
                    ).cast("long")
                    + 1
                ).cast("double")
                / F.lit(float(_PRIO_SCALE))  # u in (0,1]; /2^48 is exact
            )
        ).alias("priority"),
    )
    topk1 = q.orderBy(F.col("priority").desc(), "doc_id").limit(_PRIO_K + 1)
    from pyspark.sql import Window

    w_rk = Window.orderBy(F.col("priority").desc(), "doc_id")
    ranked = topk1.select(
        "doc_id", "weight", "priority", F.row_number().over(w_rk).alias("rk")
    )
    tau = ranked.filter(F.col("rk") == _PRIO_K + 1).select(
        F.col("priority").alias("tau")
    )
    return (
        ranked.filter(F.col("rk") <= _PRIO_K)
        .crossJoin(tau)  # 1-row threshold frame
        .select(
            "doc_id",
            "weight",
            F.greatest(F.col("weight").cast("double"), F.col("tau")).alias(
                "ht_weight"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# ccnet perplexity buckets (Wenzek et al. 2020, "CCNet: Extracting High
# Quality Monolingual Datasets from Web Crawl Data") — the canonical
# LM-perplexity corpus triage: per language, split documents into
# head / middle / tail at the perplexity tertiles (ccnet computes the
# cutoffs on a reference corpus; the per-language tertile is the
# self-referential analog). Perplexity proxy = the engine's bigram
# cross-entropy on the bit-length lattice (text.py::text_bigram_perplexity),
# reduced to exact integer milli-bits/transition so both engines agree
# bit-for-bit; cutoffs are rank-defined percentile_disc over a value
# HISTOGRAM (the aggregate_percentile_disc pattern), never a data-sized
# window.
#
# Scale: the bigram/marginal count frames are distinct-bigram/vocabulary-
# sized (sublinear in corpus); the histogram is (lang x distinct millibit)
# rows — thousands; the cutoff frame is one row per (lang, tertile) — AQE
# broadcasts it back onto the docs. No per-language data-sized window (a
# giant-language NTILE would put all of English into one partition at
# 100 TB — exactly the skew trap this shape avoids).


@register(
    "curate_ccnet_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang, w[i] AS w1, w[i + 1] AS w2
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 1)) AS i)
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2),
    pc AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cp FROM bc GROUP BY w1),
    doc AS (
      SELECT b.doc_id, b.lang,
             CAST((1000 * SUM((length(printf('%b', pc.cp)) - 1)
                              - (length(printf('%b', bc.c)) - 1)))
                  // COUNT(*) AS BIGINT) AS millibits
      FROM bg b
      JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
      JOIN pc ON pc.w1 = b.w1
      GROUP BY b.doc_id, b.lang
    ),
    hist AS (
      SELECT lang, millibits, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM doc GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, millibits, cnt,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY millibits
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS n
      FROM hist
    ),
    cuts AS (
      SELECT lang,
             MIN(CASE WHEN cum * 3 >= 1 * n THEN millibits END) AS c1,
             MIN(CASE WHEN cum * 3 >= 2 * n THEN millibits END) AS c2
      FROM cum GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.millibits,
           CASE WHEN d.millibits <= cuts.c1 THEN 'head'
                WHEN d.millibits <= cuts.c2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM doc d JOIN cuts ON cuts.lang = d.lang
    ORDER BY d.doc_id
    """,
    tags=("curate", "perplexity", "ccnet"),
)
def curate_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """head/middle/tail perplexity triage per language (ccnet, Wenzek et
    al. 2020). Docs with no bigram transitions drop out (no perplexity —
    same contract as text_bigram_perplexity)."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w"),
    )
    idx = F.when(
        F.size("w") >= 2, F.sequence(F.lit(0), F.size(F.col("w")) - 2)
    ).otherwise(F.array().cast("array<int>"))
    # NOTE (optimization round): adding bg/bc checkpoints here (the
    # text_kneser_ney_bigram hub treatment) measured exactly 1.00x — the
    # downstream `doc` checkpoint already confines the duplication to one
    # subtree where exchange reuse fires. Left without them.
    bg = toks.select("doc_id", "lang", F.explode(idx).alias("i"), "w").select(
        "doc_id", "lang",
        F.element_at("w", F.col("i") + 1).alias("w1"),
        F.element_at("w", F.col("i") + 2).alias("w2"),
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    pc = bc.groupBy("w1").agg(F.sum("c").alias("cp"))
    bits = (F.length(F.expr("bin(cp)")) - 1) - (F.length(F.expr("bin(c)")) - 1)
    doc = (
        bg.join(bc, ["w1", "w2"])
        .join(pc, "w1")
        .groupBy("doc_id", "lang")
        .agg(
            F.expr(
                "CAST((1000 * SUM((length(bin(cp)) - 1)"
                " - (length(bin(c)) - 1))) DIV COUNT(*) AS BIGINT)"
            ).alias("millibits")
        )
        # Materialized once (lazy localCheckpoint): `doc` feeds BOTH the
        # tertile-cutoff branch and the final bucket join — without this
        # the whole bigram explode + two joins + per-doc agg subtree is
        # evaluated twice (Catalyst canonicalizes the branches differently
        # once pruning specializes them, so exchange reuse never fires).
        # One narrow (doc_id, lang, millibits) row per doc.
        .localCheckpoint(eager=False)
    )
    hist = doc.groupBy("lang", "millibits").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("millibits")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "lang", "millibits",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n"),
    )
    cuts = cum.groupBy("lang").agg(
        F.min(
            F.when(F.col("cum") * 3 >= F.col("n"), F.col("millibits"))
        ).alias("c1"),
        F.min(
            F.when(F.col("cum") * 3 >= 2 * F.col("n"), F.col("millibits"))
        ).alias("c2"),
    )
    return (
        doc.join(cuts, "lang")
        .select(
            "doc_id", "lang", "millibits",
            F.when(F.col("millibits") <= F.col("c1"), "head")
            .when(F.col("millibits") <= F.col("c2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Pipeline retention funnel (round 9): the stage-by-stage audit every
# large-scale curation run reports — how many documents and tokens survive
# raw -> exact dedup -> near dedup -> quality gate. (The numbers behind
# every "we filtered X% of the crawl" table; e.g. RefinedWeb/FineWeb-style
# pipeline reports.)
#
# Stage semantics (deterministic, composition of this repo's operators):
#   exact   : keep the smallest doc_id per md5(trim(lower(text)))
#   near    : among exact survivors, drop the LARGER id of every df-capped
#             3-gram Jaccard pair >= 0.3 (keep-smallest heuristic — the
#             documented non-transitive stage; cluster-canonical transitive
#             dedup lives in dedup_cluster_canonical)
#   quality : Gopher-rule conjunction (curate_gopher_rules' keep flag)
#
# Scale: each stage is the already-audited operator shape (hash-groupBy,
# df-capped candidate join, row-local rules); the funnel adds only 4-row
# aggregates on top.
_FUNNEL_JACCARD_X10 = 3  # near-dup drop threshold 0.3

from hyrise_spark.pipeline.dedup import _NGRAM_MAX_DF as _FUNNEL_DF_CAP  # noqa: E402


@register(
    "pipeline_retention_funnel",
    oracle=f"""
    WITH docs0 AS (
      SELECT doc_id, text,
             string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ),
    fp AS (
      SELECT doc_id, text, w, md5(trim(lower(text))) AS f FROM docs0
    ),
    exact AS (
      SELECT doc_id, text, w FROM fp
      WHERE doc_id = (SELECT MIN(doc_id) FROM fp f2 WHERE f2.f = fp.f)
    ),
    all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM exact, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ),
    cold AS (
      SELECT sh FROM all_shingles GROUP BY sh
      HAVING COUNT(*) <= {_FUNNEL_DF_CAP}
    ),
    shingles AS (
      SELECT s.doc_id, s.sh FROM all_shingles s JOIN cold USING (sh)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    dropped AS (
      SELECT DISTINCT b.doc_id AS d2
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      JOIN sizes s1 ON s1.doc_id = a.doc_id
      JOIN sizes s2 ON s2.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, s1.n, s2.n
      HAVING 10 * COUNT(*) >= {_FUNNEL_JACCARD_X10} * (s1.n + s2.n - COUNT(*))
    ),
    near AS (
      SELECT doc_id, w FROM exact WHERE doc_id NOT IN (SELECT d2 FROM dropped)
    ),
    quality AS (
      SELECT doc_id, w FROM near
      WHERE len(w) BETWEEN 20 AND 90
        AND 42 * len(w) <= 10 * (SELECT SUM(length(x)) FROM UNNEST(w) t(x))
        AND 10 * (SELECT SUM(length(x)) FROM UNNEST(w) t(x)) <= 52 * len(w)
        AND len(list_filter(w, x -> x IN ('a','the','be','to','of','and',
                                          'that','have','with'))) >= 2
        AND 10 * len(list_filter(w, x -> length(x) <= 2)) <= len(w)
    )
    SELECT * FROM (
      SELECT 0 AS stage_idx, 'raw' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(w)) AS BIGINT) AS n_tokens FROM docs0
      UNION ALL
      SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(len(w)) AS BIGINT) FROM exact
      UNION ALL
      SELECT 2, 'near_dedup', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(len(w)) AS BIGINT) FROM near
      UNION ALL
      SELECT 3, 'quality_gate', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(len(w)) AS BIGINT) FROM quality
    ) ORDER BY stage_idx
    """,
    tags=("curate", "pipeline", "report"),
)
def pipeline_retention_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hyrise_spark.pipeline.dedup import _ngram_jaccard_pairs
    from hyrise_spark.pipeline.text import (
        _GOPHER_MAX_WORDS,
        _GOPHER_MIN_WORDS,
        _GOPHER_MWL_HI_X10,
        _GOPHER_MWL_LO_X10,
        _GOPHER_STOPS,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    # Each funnel stage is consumed by BOTH its own report row and every
    # downstream stage — the un-truncated lazy plan re-evaluates the
    # tokenize+md5 scan per reference (measured: 78 parquet scans of
    # `documents` in the final physical plan; 2 after). Materialize each
    # stage once; all three frames are <= 300 narrow rows + token arrays.
    docs0 = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", "text", ws.alias("w"),
        F.md5(F.trim(F.lower(F.col("text")))).alias("f"),
    ).localCheckpoint(eager=False)
    keep_fp = docs0.groupBy("f").agg(F.min("doc_id").alias("doc_id"))
    exact = docs0.join(keep_fp, ["f", "doc_id"]).select(
        "doc_id", "w"
    ).localCheckpoint(eager=False)
    pairs = _ngram_jaccard_pairs(
        exact.select("doc_id", "w")
    ).filter(F.col("jaccard") * 10 >= _FUNNEL_JACCARD_X10)
    dropped = pairs.select(F.col("d2").alias("doc_id")).distinct()
    near = exact.join(dropped, "doc_id", "left_anti").localCheckpoint(
        eager=False)
    n_words = F.size("w").cast("long")
    sum_chars = F.aggregate(
        F.transform(F.col("w"), lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )
    stops = F.size(F.filter(F.col("w"), lambda x: x.isin(*_GOPHER_STOPS))).cast("long")
    shorts = F.size(F.filter(F.col("w"), lambda x: F.length(x) <= 2)).cast("long")
    quality = near.filter(
        n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & (_GOPHER_MWL_LO_X10 * n_words <= 10 * sum_chars)
        & (10 * sum_chars <= _GOPHER_MWL_HI_X10 * n_words)
        & (stops >= 2)
        & (10 * shorts <= n_words)
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("w")).cast("long").alias("n_tokens"),
        ).select("stage_idx", "stage", "n_docs", F.col("n_tokens").cast("long"))

    return (
        stage(docs0, 0, "raw")
        .unionByName(stage(exact, 1, "exact_dedup"))
        .unionByName(stage(near, 2, "near_dedup"))
        .unionByName(stage(quality, 3, "quality_gate"))
        .orderBy("stage_idx")
    )


# ---------------------------------------------------------------------------
# Token-budget selection (round 9): assemble the best corpus subset that
# fits a token budget — "take the highest-quality documents until N tokens"
# (the final step of every pretraining-mix recipe). The naive form is a
# global ORDER BY quality + running-sum cutoff — a single total sort of the
# corpus. This implementation finds the cutoff on the QUALITY-SCORE
# HISTOGRAM instead (score -> doc/token counts, cumulated score-descending):
# entire score classes above the cutoff are kept outright, and only the one
# boundary class needs an intra-class order (by doc_id, a second bounded
# pass) — the same histogram trick as the percentile family, no global sort
# at any scale. Quality = integer commonness-style score (stopword hits*2 +
# in-range length), deterministic on both engines.
_BUDGET_TOKENS = 6000


@register(
    "curate_token_budget_select",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ),
    scored AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS toks,
             CAST(2 * len(list_filter(w, x -> x IN ('a','the','of','and')))
                  + CASE WHEN len(w) BETWEEN 30 AND 80 THEN 10 ELSE 0 END
                  AS BIGINT) AS score
      FROM d
    ),
    hist AS (
      SELECT score, CAST(SUM(toks) AS BIGINT) AS class_toks
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT score, class_toks,
             CAST(SUM(class_toks) OVER (ORDER BY score DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_toks
      FROM hist
    ),
    cutoff AS (
      SELECT MIN(score) AS full_score FROM cum
      WHERE cum_toks <= {_BUDGET_TOKENS}
    ),
    boundary AS (
      SELECT MAX(c.score) AS b_score,
             {_BUDGET_TOKENS} - COALESCE(MAX(c2.cum_toks), 0) AS b_budget
      FROM cum c CROSS JOIN cutoff
      LEFT JOIN cum c2 ON c2.score = cutoff.full_score
      WHERE c.score < COALESCE(cutoff.full_score, 1 << 60)
    ),
    kept_full AS (
      SELECT s.doc_id, s.toks, s.score FROM scored s CROSS JOIN cutoff
      WHERE s.score >= cutoff.full_score
    ),
    kept_boundary AS (
      SELECT s.doc_id, s.toks, s.score
      FROM scored s CROSS JOIN boundary b
      WHERE s.score = b.b_score
        AND (SELECT COALESCE(SUM(s2.toks), 0) FROM scored s2
             WHERE s2.score = b.b_score AND s2.doc_id <= s.doc_id)
            <= b.b_budget
    )
    SELECT doc_id, toks, score FROM kept_full
    UNION ALL
    SELECT doc_id, toks, score FROM kept_boundary
    ORDER BY doc_id
    """,
    tags=("curate", "budget", "selection"),
)
def curate_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    w = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    scored = docs.filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.size(w).cast("long").alias("toks"),
        (
            2 * F.size(F.filter(w, lambda x: x.isin("a", "the", "of", "and")))
            + F.when(F.size(w).between(30, 80), 10).otherwise(0)
        ).cast("long").alias("score"),
    ).localCheckpoint(eager=False)  # three consumers, one scan
    hist = scored.groupBy("score").agg(F.sum("toks").alias("class_toks"))
    cum = hist.select(
        "score", "class_toks",
        F.sum("class_toks").over(
            Window.orderBy(F.col("score").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum_toks"),
    )
    cutoff = cum.filter(F.col("cum_toks") <= _BUDGET_TOKENS).agg(
        F.min("score").alias("full_score")
    )
    spent = cum.join(cutoff, cum.score == cutoff.full_score).agg(
        F.coalesce(F.max("cum_toks"), F.lit(0)).alias("spent")
    )
    boundary = (
        cum.crossJoin(cutoff)
        .filter(F.col("score") < F.coalesce(F.col("full_score"), F.lit(1 << 60)))
        .agg(F.max("score").alias("b_score"))
        .crossJoin(spent)
        .select("b_score", (F.lit(_BUDGET_TOKENS) - F.col("spent")).alias("b_budget"))
    )
    kept_full = scored.crossJoin(F.broadcast(cutoff)).filter(
        F.col("score") >= F.col("full_score")
    ).select("doc_id", "toks", "score")
    # boundary class: intra-class cumulative by doc_id — bounded to ONE
    # score class, not the corpus
    w_cls = Window.partitionBy("score").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kept_boundary = (
        scored.join(F.broadcast(boundary), scored.score == F.col("b_score"))
        .withColumn("cls_cum", F.sum("toks").over(w_cls))
        .filter(F.col("cls_cum") <= F.col("b_budget"))
        .select("doc_id", "toks", "score")
    )
    return kept_full.unionByName(kept_boundary).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Data-quality expectations report (round 9) — the Deequ-style audit
# (Schelter et al., VLDB 2018: "Automating Large-Scale Data Quality
# Verification") every production pipeline runs before training: declared
# constraints evaluated in ONE pass each, emitting (rule, checked,
# violations). Rules here: range, set-membership, referential integrity
# (orphan FKs), key uniqueness, and monotone-pair sanity. Each rule is a
# partial-agg aggregate or an anti-join on the key — no rule materializes
# violating ROWS (the report is counts; a drill-down query filters on the
# same predicate).
register_sql(
    "pipeline_data_expectations",
    """
    SELECT * FROM (
      SELECT 'l_quantity_in_1_50' AS rule,
             CAST(COUNT(*) AS BIGINT) AS checked,
             CAST(SUM(CASE WHEN l_quantity BETWEEN 1 AND 50
                           THEN 0 ELSE 1 END) AS BIGINT) AS violations
      FROM lineitem
      UNION ALL
      SELECT 'l_returnflag_in_domain',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R')
                           THEN 0 ELSE 1 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_orderkey_fk',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      UNION ALL
      SELECT 'orders_orderkey_unique',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'extendedprice_positive',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'discount_le_tax_plus_half',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_discount <= l_tax + 0.5 THEN 0 ELSE 1 END)
                  AS BIGINT)
      FROM lineitem
    ) ORDER BY rule
    """,
    tags=("pipeline", "quality", "expectations"),
)


# ---------------------------------------------------------------------------
# Temperature-scaled language mixture (the multilingual "alpha sampling" of
# Lample & Conneau 2019 / XLM-R, also the shape of GPT-3's dataset-weight
# table): sampling weight w_l ∝ (tokens_l)^alpha with alpha < 1 UPWEIGHTS
# low-resource languages relative to their natural share. Unlike
# curate_domain_mixture's FIXED editorial weights, the weights here are
# DERIVED from the corpus itself in one aggregate pass.
#
# alpha = 0.5 on purpose: sqrt is a correctly-rounded IEEE-754 operation
# (general pow is not), and the weight is then held on a scaled-integer
# lattice (floor(sqrt(d_tok) * 1e6) summed as BIGINT), so both engines
# derive bit-identical rates — no cross-engine pow drift can flap a
# boundary doc. The acceptance test is the same deterministic md5-of-
# doc_id uniform used by every sampler in this module: a pure filter,
# reproducible shard-by-shard at 100 TB, no RNG state to coordinate.
_TEMP_BUDGET_FRAC = 0.5  # target corpus = 50% of the total token count

_TEMP_RATE_SQL = f"""
    d AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tok
      FROM documents
    ),
    dom AS (
      SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS d_tok,
             CAST(FLOOR(SQRT(CAST(SUM(n_tok) AS BIGINT)) * 1000000)
                  AS BIGINT) AS s_tok
      FROM d GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(d_tok) AS BIGINT) AS t_tok,
             CAST(SUM(s_tok) AS BIGINT) AS s_all
      FROM dom
    ),
    rates AS (
      SELECT lang,
             LEAST(1.0,
                   CAST({_TEMP_BUDGET_FRAC} AS DOUBLE)
                   * (CAST(s_tok AS DOUBLE) / s_all)
                   * t_tok / d_tok) AS rate
      FROM dom CROSS JOIN tot
    )
"""


@register(
    "curate_temperature_mixture",
    oracle=f"""
    WITH {_TEMP_RATE_SQL}
    SELECT doc_id, lang, n_tok,
           ROUND(rate, 4) AS rate
    FROM d JOIN rates USING (lang)
    WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
          < CAST(FLOOR(rate * 65536) AS INT)
    ORDER BY doc_id
    """,
    tags=("curate", "mixture", "sampling", "temperature"),
)
def curate_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha-temperature language resampling: rate_l = budget * w_l *
    T/d_tok with w_l = sqrt(d_tok)/sum(sqrt). Plan: one narrow aggregate
    per language (5 rows), one 1-row total, then a pure md5-threshold
    filter over the corpus — the documents themselves never shuffle; the
    integer threshold floor(rate*65536) makes the accept decision exact
    on both engines."""
    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", "lang", F.size(_words()).alias("n_tok"))
    dom = d.groupBy("lang").agg(
        F.sum("n_tok").cast("long").alias("d_tok"),
        F.floor(F.sqrt(F.sum("n_tok").cast("long")) * 1000000)
        .cast("long")
        .alias("s_tok"),
    )
    tot = dom.agg(
        F.sum("d_tok").cast("long").alias("t_tok"),
        F.sum("s_tok").cast("long").alias("s_all"),
    )
    rates = dom.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0),
            F.lit(_TEMP_BUDGET_FRAC)
            * (F.col("s_tok").cast("double") / F.col("s_all"))
            * F.col("t_tok")
            / F.col("d_tok"),
        ).alias("rate"),
    )
    accept16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int")
    # rates is 5 rows but derives from a scaling scan: AQE broadcasts it
    return (
        d.join(rates, "lang")
        .filter(accept16 < F.floor(F.col("rate") * 65536).cast("int"))
        .select("doc_id", "lang", "n_tok", F.round("rate", 4).alias("rate"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Span-level decontamination (the removal form of curate_contamination_check,
# after Lee et al. 2022's span-surgery and the open-LM eval-decontamination
# recipes): instead of DROPPING a contaminated document, mask exactly the
# token positions covered by any benchmark-matching n-gram and keep the
# rest. Reports per contaminated doc the masked-token count and the number
# of MAXIMAL contiguous masked spans (gaps-and-islands on the masked
# position set) — what a surgical pipeline would cut.


@register(
    "curate_decontaminate_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents),
    g AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_NGRAM - 1})) AS s
          FROM t WHERE len(w) >= {_NGRAM}),
    sh AS (SELECT doc_id, s, array_to_string(w[s : s + {_NGRAM - 1}], ' ') AS sh FROM g),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
    hits AS (
      SELECT doc_id, s FROM sh
      WHERE doc_id >= 20 AND sh IN (SELECT sh FROM bench)
    ),
    masked AS (
      SELECT DISTINCT doc_id, s + o AS p
      FROM hits, LATERAL (SELECT UNNEST(generate_series(0, {_NGRAM - 1})) AS o)
    ),
    runs AS (
      SELECT doc_id, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM masked
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_masked,
             CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_spans
      FROM runs GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM t)
    SELECT d.doc_id, s.n_tokens, d.n_masked, d.n_spans,
           CAST(s.n_tokens - d.n_masked AS BIGINT) AS clean_tokens
    FROM per_doc d JOIN sizes s USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("curate", "contamination", "decontaminate"),
)
def curate_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated training doc: tokens masked by benchmark-matching
    5-gram coverage and the maximal contiguous span count. Plan: the
    contamination checker's semi-join (bench side AQE-broadcast), a
    bounded 5-way position explode of HITS only (never the corpus), one
    gaps-and-islands window over masked positions per doc."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", _words(lower=True).alias("w"))
    sh = (
        toks.filter(F.size("w") >= _NGRAM)
        .select(
            "doc_id",
            F.posexplode(shingle_expr(F.col("w"))).alias("s0", "sh"),
        )
        .select("doc_id", (F.col("s0") + 1).alias("s"), "sh")
    )
    bench = sh.filter(F.col("doc_id") < 20).select("sh").distinct()
    hits = (
        sh.filter(F.col("doc_id") >= 20)
        .join(bench, "sh", "left_semi")
        .select("doc_id", "s")
    )
    masked = (
        hits.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + (_NGRAM - 1))
            ).alias("p"),
        )
        .distinct()
    )
    from pyspark.sql.window import Window

    grp = F.col("p") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("p")
    )
    per_doc = (
        masked.select("doc_id", "p", grp.alias("grp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_masked"),
            F.countDistinct("grp").cast("long").alias("n_spans"),
        )
    )
    sizes = toks.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    return (
        per_doc.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            "n_spans",
            (F.col("n_tokens") - F.col("n_masked")).cast("long").alias("clean_tokens"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Classifier calibration: AUC of a quality signal against a weak label via
# the Mann-Whitney rank-sum identity — the eval-harness leg the curation
# family lacked (the similarity family's recall@k analog). Every
# quality-classifier gate (curate_gopher_rules, text_quality_classifier,
# the streaming classifier gate) ultimately asks "does the score ORDER the
# corpus correctly?"; AUC is that question as one number.
#
# AUC = (sum of positive ranks - n_pos(n_pos+1)/2) / (n_pos * n_neg),
# ranks ascending by score with AVERAGE ranks for ties. Computed over the
# SCORE HISTOGRAM, not the rows (the aggregate_percentile_cont pattern):
# per-score (n_pos, n_total) counts shuffle once, then ONE running-sum
# window over the distinct-score frame yields every tie group's average
# rank (cum_before + (|ties|+1)/2) and the rank-sum reduces to
# sum(n_pos_s * avg_rank). The naive AUC is O(n^2) pair comparisons; a
# row-level rank is a GLOBAL sort (single-partition window at 100 TB);
# the histogram form is one partial-aggregable shuffle + a window over
# the bounded score domain. Ranks stay on the half-integer lattice
# (x.0/x.5 — exact doubles below 2^53), so the SAME text hash-matches on
# both engines.
_AUC_SQL = """
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             n_chars AS s
      FROM documents
    ), hist AS (
      SELECT s,
             CAST(SUM(y) AS BIGINT) AS n_pos_s,
             CAST(COUNT(*) AS BIGINT) AS n_tot_s
      FROM scored GROUP BY s
    ), ranked AS (
      SELECT n_pos_s, n_tot_s,
             SUM(n_tot_s) OVER (ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tot_s
               + (n_tot_s + 1) / CAST(2.0 AS DOUBLE) AS avg_rank
      FROM hist
    )
    SELECT ROUND(CAST((SUM(n_pos_s * avg_rank)
                   - (SUM(n_pos_s) * (SUM(n_pos_s) + 1)) / CAST(2.0 AS DOUBLE))
                 / (SUM(n_pos_s) * SUM(n_tot_s - n_pos_s)) AS DOUBLE), 6)
               AS auc,
           CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
           CAST(SUM(n_tot_s - n_pos_s) AS BIGINT) AS n_neg
    FROM ranked
"""


# Rank-sum AUC of the n_chars signal against the lang='en' weak label
# (same text on both engines; windows run over the score histogram,
# never the data — see the rank-identity note above).
register_sql(
    "curate_classifier_auc",
    _AUC_SQL,
    tags=("curation", "evaluation", "sql"),
)


# Precision/recall curve companion to the AUC: for every decision
# threshold t (bucketed score domain), the quality gate "keep documents
# with score >= t" has TP/FP = descending cumulative sums over the same
# score histogram — so the WHOLE curve (the thing that picks a gate's
# operating point) is one shuffle + one window over the bounded bucket
# domain, never a per-threshold rescan.
_PR_CURVE_SQL = """
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS b
      FROM documents
    ), hist AS (
      SELECT b,
             CAST(SUM(y) AS BIGINT) AS n_pos_b,
             CAST(COUNT(*) AS BIGINT) AS n_tot_b
      FROM scored GROUP BY b
    ), cum AS (
      SELECT b,
             CAST(SUM(n_pos_b) OVER (ORDER BY b DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tp,
             CAST(SUM(n_tot_b - n_pos_b) OVER (ORDER BY b DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS fp,
             CAST(SUM(n_pos_b) OVER () AS BIGINT) AS p
      FROM hist
    )
    SELECT b AS threshold_bucket, tp, fp,
           ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_at,
           ROUND(CAST(tp AS DOUBLE) / p, 6) AS recall_at
    FROM cum
    ORDER BY threshold_bucket DESC
"""


# Precision/recall at every keep-if-score>=t threshold (bucketed
# n_chars signal vs the lang='en' weak label) — descending cumulative
# sums over the score histogram; same text on both engines.
register_sql(
    "curate_classifier_pr_curve",
    _PR_CURVE_SQL,
    tags=("curation", "evaluation", "sql"),
)


# Gate-agreement metric: Cohen's kappa between two binary curation gates —
# chance-corrected agreement ((po - pe) / (1 - pe)) from one contingency
# aggregate. The operating question for a gate stack ("does the cheap rule
# agree with the expensive classifier beyond chance?") answered in a
# single partial-agg pass; every input to the doubles is an exact BIGINT
# count, so the same text hash-matches on both engines.
_KAPPA_SQL = """
    WITH gated AS (
      SELECT CASE WHEN n_chars >= 600 THEN 1 ELSE 0 END AS a,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS b
      FROM documents
    ), counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a * b) AS BIGINT) AS n11,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
             CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM gated
    )
    SELECT n, n11, n10, n01, n00,
           ROUND(CAST(n11 + n00 AS DOUBLE) / n, 6) AS po,
           ROUND(CAST((n11 + n10) * (n11 + n01)
                      + (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n), 6)
               AS pe,
           ROUND((CAST(n11 + n00 AS DOUBLE) / n
                  - CAST((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n))
                 / NULLIF(1.0 - CAST((n11 + n10) * (n11 + n01)
                          + (n01 + n00) * (n10 + n00) AS DOUBLE) / (n * n),
                          0), 6) AS kappa
    FROM counts
"""


# Cohen's kappa between a length rule and a language gate over
# documents (same text on both engines; see note above).
register_sql(
    "curate_gate_agreement_kappa",
    _KAPPA_SQL,
    tags=("curation", "evaluation", "sql"),
)
