"""Deduplication operators over `documents` / `embeddings` — exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Net-new Spark-first capabilities (no reference equivalent; SURVEY.md §2.9).
All hashing is md5-derived so the DuckDB oracle computes bit-identical
values — Spark's xxhash64/hash and DuckDB's hash() are different functions,
so they never appear in compared output.

Design for 100 TB:
- exact dedup: one groupBy on a 128-bit fingerprint — the minimum possible
  shuffle (fingerprint, doc_id) pairs, not documents.
- MinHash/LSH: signatures are per-document maps (linear); candidate
  generation joins on band keys so the join fan-out is bounded by bucket
  collisions, never all-pairs.
- SimHash: per-document bit-vote aggregation (explode is 64x row inflation
  but stays map-side until the tiny groupBy).
- n-gram Jaccard: pairs come from an equi-join on shared shingles — skew
  guard = drop shingles with document frequency > _NGRAM_MAX_DF (stopword /
  boilerplate shingles; production cap = max(_NGRAM_MAX_DF, 1% of corpus)),
  standard practice for LSH-free candidate generation. Implemented in
  _ngram_jaccard_pairs; exercised by dedup_ngram_jaccard_hot_shingle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from hyrise_spark.catalog import load_tables
from hyrise_spark.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


# md5-derived 60-bit integer hash, identical in Spark and DuckDB.
def _md5_int_spark(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_int_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


_NORMALIZE_SQL = (
    "regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')"
)


def _shingle_array(n: int) -> Column:
    """All n-token shingles of the token array `w`.

    Docs shorter than n tokens yield an EMPTY array: without the guard,
    `F.sequence(0, size(w) - n)` has start > stop and Spark defaults to step
    -1 — a descending index array that feeds negative starts into slice()
    (spurious shingles / runtime error). DuckDB's generate_series is
    empty-safe, so only the Spark side needs the guard.
    """
    return F.when(
        F.size("w") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.array_join(F.slice(F.col("w"), i + 1, n), " "),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))


def _normalize_spark() -> Column:
    return F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
    )


# ---------------------------------------------------------------------------
# Exact dedup: canonical-form fingerprint groupBy; keeper = min doc_id.
# The builder stays: DuckDB needs regexp_replace's 'g' flag to replace every
# match, while Spark reads a fourth argument as a start position and returns
# NULL for 'g', so the text run through spark.sql returns other rows than
# the builder (at sf0.01 and sf0.1).
@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORMALIZE_SQL}) AS fingerprint,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) >= 1
    """,
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(_normalize_spark()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: distinct 3-token shingles, equi-join on shingle,
# |A∩B| from match count, Jaccard from set sizes.
#
# Skew guard: shingles appearing in > _NGRAM_MAX_DF documents (boilerplate —
# license headers, templated footers) are dropped BEFORE the self-join. One
# shingle shared by k docs otherwise produces k^2 candidate pairs, the classic
# all-pairs blowup at 100 TB. Jaccard is then computed over the filtered
# shingle space (hot shingles count toward neither intersection nor set size —
# the stopword-removal convention). Production would set the cap to
# max(_NGRAM_MAX_DF, 1% of corpus size); fixed here for oracle determinism.
_NGRAM_MAX_DF = 10


def capped_setsim_pairs(
    cells: DataFrame, id_col: str, cell_cols: list[str], max_df: int
) -> DataFrame:
    """Generic df-capped set-similarity candidate core: from DISTINCT
    (id, *cells) rows, drop cells shared by > max_df ids (one hot cell
    otherwise yields df² candidate pairs — the all-pairs blowup guard),
    self-join on the surviving cells, and return (id1, id2, inter, n1, n2)
    — callers derive their Jaccard/threshold/rounding. Shared by the
    shingle dedup and the trajectory-signature join so the skew guard
    cannot drift between them."""
    # cells feeds the df histogram AND the semi-join probe; kept feeds the
    # sizes agg and BOTH self-join sides. Materialize each once (lazy
    # localCheckpoint) — otherwise the caller's explode+distinct subtree is
    # re-evaluated per reference (2x for cells, 3x for kept; Catalyst's
    # exchange reuse does not fire once pruning specializes the branches).
    # Both frames are (id, cell) pairs — the candidate index a production
    # set-similarity join materializes anyway; MEMORY_AND_DISK spills
    # rather than OOMs at corpus scale.
    cells = cells.localCheckpoint(eager=False)
    cold = (
        cells.groupBy(*cell_cols)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select(*cell_cols)
    )
    kept = cells.join(cold, cell_cols, "left_semi").localCheckpoint(
        eager=False)
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = kept.select(F.col(id_col).alias("id1"), *cell_cols)
    b = kept.select(F.col(id_col).alias("id2"), *cell_cols)
    pairs = (
        a.join(b, cell_cols)
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col(id_col).alias("id1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("id2"), F.col("n").alias("n2"))
    return pairs.join(s1, "id1").join(s2, "id2")


def _ngram_jaccard_pairs(toks: DataFrame, max_df: int = _NGRAM_MAX_DF) -> DataFrame:
    """Jaccard > 0.12 pairs from (doc_id, w=token-array) rows, df-capped."""
    shingles = toks.select("doc_id", F.explode(_shingle_array(3)).alias("sh")).distinct()
    pairs = capped_setsim_pairs(shingles, "doc_id", ["sh"], max_df)
    jac = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return pairs.filter(jac > 0.12).select(
        F.col("id1").alias("d1"),
        F.col("id2").alias("d2"),
        F.round(jac, 4).alias("jaccard"),
    )


def _ngram_oracle(text_expr: str) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower({text_expr})), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), cold AS (
      SELECT sh FROM all_shingles GROUP BY sh HAVING COUNT(*) <= {_NGRAM_MAX_DF}
    ), shingles AS (
      SELECT s.doc_id, s.sh FROM all_shingles s JOIN cold USING (sh)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 4) AS jaccard
    FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE CAST(inter AS DOUBLE) / (s1.n + s2.n - inter) > 0.12
    """


@register("dedup_ngram_jaccard", oracle=_ngram_oracle("text"), tags=("dedup", "jaccard"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    return _ngram_jaccard_pairs(toks)


# Every document gets the same 12-token boilerplate footer appended — its
# shingles hit df = n_docs, far above the cap, and MUST be dropped by the
# guard. Without the guard this query's self-join would generate all ~300^2/2
# candidate pairs; with it, output stays near the base query's pairs.
_HOT_FOOTER = "end of transmission all rights reserved do not reply to this message"


@register(
    "dedup_ngram_jaccard_hot_shingle",
    oracle=_ngram_oracle(f"text || ' ' || '{_HOT_FOOTER}'"),
    tags=("dedup", "jaccard", "skew"),
)
def dedup_ngram_jaccard_hot_shingle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    boilerplated = F.concat(F.col("text"), F.lit(" " + _HOT_FOOTER))
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(boilerplated)), r"\s+").alias("w")
    )
    return _ngram_jaccard_pairs(toks)


# ---------------------------------------------------------------------------
# MinHash + LSH: 16 md5-derived hash functions -> min per function; 4 bands
# of 4 -> band keys; candidate pairs share a band; output estimated Jaccard
# (= fraction of matching signature components).
_K = 16
_BANDS = 4
_ROWS_PER_BAND = _K // _BANDS


# MinHash permutations (round 7): ONE md5 per distinct shingle, split into
# 30-bit halves, then K affine combinations modulo a Mersenne prime — the
# classic universal-hash MinHash family (Broder). Replaces K md5 digests per
# shingle with one digest + K multiply-adds; the halves keep every product
# under 2^57 so the arithmetic is exact 64-bit on BOTH engines (Spark ANSI
# mode would error on overflow; DuckDB would silently widen to HUGEINT).
_MH_P = (1 << 61) - 1
_MH_HALF_MASK = (1 << 30) - 1


def _mh_a1(i: int) -> int:
    return 1000003 * i + 12345


def _mh_a2(i: int) -> int:
    return 999983 * i + 67891


def minhash_signatures(toks: DataFrame) -> DataFrame:
    """(doc_id, sig array<long>) from a (doc_id, w words-array) frame. All K
    signature components in ONE aggregation (no K-way row explode, no
    per-(doc,i) shuffle): K min-columns packed into an array. The shingle is
    md5-digested ONCE (materialized as 30-bit halves before the groupBy, so
    single evaluation is guaranteed rather than left to codegen CSE); each
    signature row is an affine permutation of the halves. At 100 TB the
    signature stage is a single groupBy(doc_id) over shingles — also probed
    directly by tools/scale_probe.py --family pipeline.

    Measured negative result (round 6, keep for posterity): moving the K
    hash trees into one transform(sequence(0,K-1), ...) lambda with
    min(arr[i]) aggregates returns identical signatures but ran 1.3x SLOWER
    at sf0.1 — per-row higher-order-function eval loses to K codegen'd flat
    expressions, which is why the K permutations stay flat min-aggregates."""
    shingles = toks.select("doc_id", F.explode(_shingle_array(3)).alias("sh")).distinct()
    base = _md5_int_spark(F.col("sh"))
    hashed = shingles.select(
        "doc_id",
        F.shiftright(base, 30).alias("hi"),
        base.bitwiseAND(F.lit(_MH_HALF_MASK)).alias("lo"),
    )
    mins = [
        F.min(
            (F.lit(_mh_a1(i)) * F.col("hi") + F.lit(_mh_a2(i)) * F.col("lo")
             + F.lit(i)) % F.lit(_MH_P)
        ).alias(f"m{i}")
        for i in range(_K)
    ]
    return (
        hashed.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"m{i}" for i in range(_K)]).alias("sig"))
    )



@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), hashed AS (
      SELECT doc_id,
             {_md5_int_sql("sh")} >> 30 AS hi,
             {_md5_int_sql("sh")} & {_MH_HALF_MASK} AS lo
      FROM shingles
    ), sig AS (
      SELECT doc_id, h.i AS i,
             MIN(((1000003 * h.i + 12345) * hi + (999983 * h.i + 67891) * lo + h.i)
                 % {_MH_P}) AS mh
      FROM hashed, LATERAL (SELECT UNNEST(generate_series(0, {_K - 1})) AS i) h
      GROUP BY doc_id, h.i
    ), bands AS (
      SELECT doc_id, i // {_ROWS_PER_BAND} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sig GROUP BY doc_id, i // {_ROWS_PER_BAND}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.d1, c.d2,
             CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS DOUBLE) / {_K} AS est_jaccard
      FROM cand c JOIN sig s1 ON s1.doc_id = c.d1 JOIN sig s2 ON s2.doc_id = c.d2 AND s1.i = s2.i
      GROUP BY c.d1, c.d2
    )
    SELECT d1, d2, ROUND(est_jaccard, 4) AS est_jaccard FROM est
    """,
    tags=("dedup", "minhash"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    sig = minhash_signatures(toks)
    # Band keys from array slices; each band row CARRIES the signature so the
    # candidate join needs no extra signature joins afterwards.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice("sig", b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_key"),
        )
        for b in range(_BANDS)
    ]
    bands = sig.select(
        "doc_id", "sig", F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    b1 = bands.select(
        F.col("doc_id").alias("d1"), F.col("sig").alias("sig1"), "band", "band_key"
    )
    b2 = bands.select(
        F.col("doc_id").alias("d2"), F.col("sig").alias("sig2"), "band", "band_key"
    )
    matches = F.size(
        F.filter(F.zip_with("sig1", "sig2", lambda a, b: a == b), lambda x: x)
    )
    return (
        b1.join(b2, ["band", "band_key"])
        .filter(F.col("d1") < F.col("d2"))
        .dropDuplicates(["d1", "d2"])
        .select(
            "d1",
            "d2",
            F.round(matches.cast("double") / _K, 4).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash: 48-bit signature from per-token bit votes; near-dup = small
# Hamming distance. Output per-doc signature + its hex form.
_SIMHASH_BITS = 48


@register(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE doc_id < 200
    ), hashed AS (
      SELECT doc_id, {_md5_int_sql("tok")} AS h FROM toks
    ), votes AS (
      SELECT doc_id, b.j AS j,
             SUM(CASE WHEN (h >> b.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, LATERAL (SELECT UNNEST(generate_series(0, {_SIMHASH_BITS - 1})) AS j) b
      GROUP BY doc_id, b.j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    hashed = toks.select("doc_id", _md5_int_spark(F.col("tok")).alias("h"))
    votes = (
        hashed.select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))).alias("j")
        )
        .select(
            "doc_id",
            "j",
            F.when(F.expr("(h >> j) & 1") == 1, 1).otherwise(-1).alias("vote"),
        )
        .groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("CAST(1 AS BIGINT) << j")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("simhash")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: all-pairs within doc_id window, cosine from
# double-cast float vectors, identical dot/norm formula both engines.
@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND(list_inner_product(a.v, b.v) /
                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 4)
             AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) /
          (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) > 0.35
    """,
    tags=("dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, z: acc + z
        )

    # Pre-normalize once per ROW (O(N) work) so each of the O(N^2) pairs costs
    # ONE dot product instead of three — cos(a, b) == dot(a/|a|, b/|b|).
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(dot(v, v))
    e = emb.filter(F.col("vec_id") < 300).select(
        "vec_id", F.transform(v, lambda x: x / norm).alias("vn")
    )
    a = e.select(F.col("vec_id").alias("id1"), F.col("vn").alias("vn1"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("vn").alias("vn2"))
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("cos_sim_raw", dot(F.col("vn1"), F.col("vn2")))
        .filter(F.col("cos_sim_raw") > 0.35)
        .select("id1", "id2", F.round("cos_sim_raw", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Cluster canonicalization: near-dup PAIRS -> connected components ->
# canonical (minimum) doc per cluster. This is the step after candidate
# generation in a real dedup pipeline: LSH/Jaccard emit pairs, but dedup
# must keep ONE document per transitive group (A~B, B~C => drop two of
# {A,B,C} even if A~C was never emitted).
#
# Algorithm: iterative min-label propagation over the undirected pair graph
# — each round every node takes min(own label, neighbors' labels); converges
# in O(diameter) rounds. Near-dup clusters are shallow (boilerplate families,
# re-posts), so the loop exits after 1-3 rounds here; the driver-side loop
# runs one tiny count() per round on a frame that only shrinks. At 100 TB
# use the same loop per partition-bounded component or switch to the
# large-star/small-star variant (Kiveris et al., "Connected Components in
# MapReduce and Beyond") — the per-round dataflow below is unchanged.
@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), cold AS (
      SELECT sh FROM all_shingles GROUP BY sh HAVING COUNT(*) <= {_NGRAM_MAX_DF}
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
    )
    SELECT src AS doc_id,
           CAST(LEAST(src, MIN(dst)) AS BIGINT) AS canonical_id
    FROM reach GROUP BY src ORDER BY doc_id
    """,
    tags=("dedup", "cluster"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    pairs = _ngram_jaccard_pairs(toks).select("d1", "d2")
    return cluster_canonical(pairs, "d1", "d2")


def cluster_canonical(
    pairs: DataFrame, left: str = "d1", right: str = "d2", max_rounds: int = 20
) -> DataFrame:
    """(doc_id, canonical_id) for every node in the undirected pair graph —
    canonical = minimum doc id reachable. Min-label propagation to fixpoint."""
    edges = (
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b"))
        .union(pairs.select(F.col(right).alias("a"), F.col(left).alias("b")))
        .distinct()
        .localCheckpoint(eager=False)  # edges re-read every round: scan once
    )
    # Round 0 fused into initialization: label = min(node, direct neighbors)
    # — one aggregation instead of a full propagate round.
    labels = edges.groupBy(F.col("a").alias("node")).agg(
        F.least(F.col("a"), F.min("b")).alias("label")
    )
    prev_sum = None
    for _ in range(max_rounds):
        # Fixpoint detection: labels only ever DECREASE (least of own +
        # neighbor min), so the label sum strictly decreases until
        # convergence — one scalar per round, and no self-join of a frame
        # with its own derivation (whose column resolution is ambiguous in
        # Spark). Lineage is truncated each round (lazy localCheckpoint,
        # materialized by the sum action — one job per round): without this
        # the plan nests one join level per round and the OPTIMIZER (not the
        # data) blows the heap after ~10 rounds. Production would use
        # reliable checkpoint() on cluster storage.
        labels = labels.localCheckpoint(eager=False)
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["a"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
            )
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("canonical_id")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Paragraph-level dedup (Dolma / CCNet style): the corpus-wide pass that
# removes boilerplate paragraphs repeated across documents while keeping
# each document's first-seen content. The driver corpus has no newlines, so
# "paragraph" = non-overlapping 20-token window (the same tokenization the
# chunking op uses); on real web text the splitter would be '\n\n'.

_PARA = 20  # tokens per paragraph


@register(
    "dedup_paragraph",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), g AS (
      SELECT doc_id, w,
             unnest(generate_series(0, CAST(CEIL(len(w) / {_PARA}.0) AS BIGINT) - 1)) AS pi
      FROM t
    ), paras AS (
      SELECT doc_id, pi,
             array_to_string(w[pi * {_PARA} + 1 : pi * {_PARA} + {_PARA}], ' ') AS para
      FROM g
    ), ranked AS (
      SELECT doc_id, pi, para,
             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pi) AS rn
      FROM paras
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_para,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(para, ' ' ORDER BY pi) FILTER (WHERE rn = 1), '')
             AS dedup_text
    FROM ranked GROUP BY doc_id
    """,
    tags=("dedup", "curate"),
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup: keep only the FIRST occurrence (by
    doc_id, then position) of every exact paragraph, then reassemble each
    document from its surviving paragraphs.

    Scale: the ranking window partitions by the paragraph text itself —
    duplicate groups, never a global window. The only shuffle moves
    (paragraph, doc_id, idx) rows: each paragraph travels twice (rank +
    regroup by doc), never the whole document against itself. Skewed
    boilerplate (one paragraph repeated millions of times) lands one
    window partition per distinct paragraph — AQE skew split applies.
    """
    paras = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("w") / F.lit(float(_PARA))).cast("int") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(F.col("w"), i * _PARA + 1, _PARA), " "
                    ),
                )
            ).alias("pi", "para"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("para").orderBy("doc_id", "pi")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_para"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("rn") == 1, F.struct("pi", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
            " ",
        ).alias("dedup_text"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): cluster
# embeddings, then drop items whose cosine to the cluster representative
# exceeds a threshold — removes semantically redundant documents that no
# lexical fingerprint catches.

_SEM_K = 8        # clusters (deterministic seed init, shared with sim_kmeans)
_SEM_TAU = 0.95   # cosine-to-representative above this = semantic duplicate


@register(
    "dedup_semantic",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    seeds AS (
      SELECT vec_id AS cell,
             list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS cv
      FROM e WHERE vec_id < {_SEM_K}
    ),
    pts AS (
      SELECT vec_id, list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS pv
      FROM e
    ),
    assigned AS (
      SELECT vec_id, pv, cell,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY list_inner_product(pv, cv) DESC, cell) AS rn
      FROM pts CROSS JOIN seeds
    ),
    member AS (SELECT vec_id, pv, cell FROM assigned WHERE rn = 1),
    reps AS (
      SELECT cell, MIN(vec_id) AS rep_id FROM member GROUP BY cell
    ),
    repvec AS (
      SELECT r.cell, r.rep_id, m.pv AS rv
      FROM reps r JOIN member m ON m.vec_id = r.rep_id
    )
    SELECT m.vec_id, CAST(m.cell AS INTEGER) AS cell,
           ROUND(list_inner_product(m.pv, rv), 4) AS rep_sim,
           (m.vec_id = rep_id OR list_inner_product(m.pv, rv) <= {_SEM_TAU})
             AS kept
    FROM member m JOIN repvec USING (cell)
    """,
    tags=("dedup", "similarity"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: assign every embedding to its nearest seed centroid, pick
    the min-vec_id representative per cluster, and mark members whose cosine
    to the representative exceeds tau as semantic duplicates.

    Scale: centroids and representatives are both K-bounded frames (K = an
    index hyperparameter, not data volume) — the ONLY broadcasts. Each
    corpus vector is scored K times (narrow expand) and joins the K-row
    representative frame once; no vector ever compares against another
    corpus vector directly, unlike the paper's in-cluster all-pairs — this
    is the O(N*K) variant that survives 100 TB.
    """
    from hyrise_spark.pipeline.similarity import _dot, _kmeans_seeds, _normalize

    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    seeds = (
        _kmeans_seeds(e)
        .withColumnRenamed("cell", "s_cell")
        .filter(F.col("s_cell") < _SEM_K)
        .limit(_SEM_K)
    )
    pts = e.select("vec_id", _normalize(F.col("v")).alias("pv"))
    # argmax-by-similarity as a min_by partial-agg (no per-vector window
    # sort): min over (-sim, cell) == max sim with min-cell tiebreak — the
    # same (sim DESC, cell) order the oracle's ROW_NUMBER uses. pv is
    # constant within the group, so first() is deterministic in value.
    member = (
        pts.crossJoin(F.broadcast(seeds))
        .select("vec_id", "pv", F.col("s_cell").alias("cell"),
                _dot(F.col("pv"), F.col("cv")).alias("sim"))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.col("cell"), F.struct((-F.col("sim")).alias("ns"), F.col("cell"))
            ).alias("cell"),
            F.first("pv").alias("pv"),
        )
        .select("vec_id", "pv", "cell")
        # member feeds the representative argmin, the representative-vector
        # join AND the final member join — three references; materialize
        # the K-scored assignment once instead of re-running the crossJoin
        # + min_by per branch.
        .localCheckpoint(eager=False)
    )
    reps = member.groupBy("cell").agg(F.min("vec_id").alias("rep_id"))
    repvec = (
        reps.join(member.select(F.col("vec_id").alias("rep_id"),
                                F.col("pv").alias("rv")), "rep_id")
        .limit(_SEM_K)  # one row per cluster — bounded, broadcast-safe
    )
    sim = _dot(F.col("pv"), F.col("rv"))
    return member.join(F.broadcast(repvec), "cell").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.round(sim, 4).alias("rep_sim"),
        ((F.col("vec_id") == F.col("rep_id")) | (sim <= F.lit(_SEM_TAU)))
        .alias("kept"),
    )


# ---------------------------------------------------------------------------
# Exact-substring duplication coverage (the ExactSubstr idea of Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499): a document is problematic in proportion to how much of
# it is text that appears verbatim elsewhere. Their suffix-array approach is
# inherently single-machine; the distributed re-expression is stride-1
# n-token windows — a window whose exact text occurs in 2+ places marks its
# n tokens as duplicated, and the per-doc duplicated-window share is the
# removal signal.

_XS_N = 30  # window length in tokens (Lee et al. use 50 BPE tokens)


@register(
    "dedup_substring_coverage",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), g AS (
      SELECT doc_id, w,
             unnest(generate_series(0, len(w) - {_XS_N})) AS wi
      FROM t WHERE len(w) >= {_XS_N}
    ), wins AS (
      SELECT doc_id, wi,
             md5(array_to_string(w[wi + 1 : wi + {_XS_N}], ' ')) AS h
      FROM g
    ), dup AS (
      SELECT h, COUNT(*) AS occ FROM wins GROUP BY h
    )
    SELECT wins.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN dup.occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           CAST((SUM(CASE WHEN dup.occ > 1 THEN 1 ELSE 0 END) * 10000)
                // COUNT(*) AS BIGINT) AS dup_bps
    FROM wins JOIN dup USING (h)
    GROUP BY wins.doc_id
    """,
    tags=("dedup",),
)
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of stride-1 {n}-token windows whose exact text
    occurs more than once in the corpus (within OR across documents) —
    the coverage signal behind substring-level dedup removal. dup_bps is
    basis points on an exact integer lattice (x * 10000 div n).

    Scale: window text never leaves the map side — only its md5 shuffles,
    twice (occurrence count + doc regroup). Stride-1 inflates rows by
    ~doc_length, but each row is a 16-byte hash + ids: at 100 TB this is
    the same shape the shingle/MinHash paths already carry. The occurrence
    count partial-aggs map-side; hot boilerplate windows are single hash
    groups (AQE skew split).
    """
    wins = (
        _docs(spark, sf_dir)
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w"))
        .filter(F.size("w") >= _XS_N)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - _XS_N),
                    lambda i: F.md5(
                        F.array_join(F.slice(F.col("w"), i + 1, _XS_N), " ")
                    ),
                )
            ).alias("wi", "h"),
        )
    )
    # wins feeds the occurrence count AND the per-doc regroup join: without
    # the checkpoint the stride-1 window explode + per-window md5 (the
    # expensive map work) runs twice. Rows are (doc_id, wi, 16-byte hash).
    wins = wins.localCheckpoint(eager=False)
    occ = wins.groupBy("h").agg(F.count(F.lit(1)).alias("occ"))
    dup = (F.col("occ") > 1).cast("long")
    return (
        wins.join(occ, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(dup).alias("n_dup_windows"),
            F.expr(
                "CAST((sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) * 10000)"
                " div count(1) AS BIGINT)"
            ).alias("dup_bps"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-corpus Bloom dedup: gate a new crawl against the PREVIOUS crawl's
# Bloom bitset — the standard incremental-dedup shape at 100 TB (you never
# re-join two crawls; you ship last crawl's O(bits) filter and gate the new
# one with it). Corpus A = even doc_ids ("previous crawl"), corpus B = odd
# ("new crawl"); keys are the exact-dedup canonical fingerprints, so this is
# exact cross-corpus dedup at Bloom cost (deterministic false positives,
# identical on both engines — same md5 bit math).
#
# Scale: A collapses to <= _XB_WORDS*63 distinct bit positions (a CONSTANT,
# ~4k rows regardless of corpus size) before any join; B's probe is an
# equi-join of its k bits-per-doc against that bounded set, which AQE
# broadcasts. Flag = ALL k distinct probe bits present.
_XB_WORDS = 64   # 64 * 63 = 4032 usable bits
_XB_HASHES = 3


def _xb_bit(i: int) -> Column:
    return (
        F.conv(F.substring(F.md5(_normalize_spark()), 1 + i * 8, 8), 16, 10)
        .cast("long") % (_XB_WORDS * 63)
    )


def _xb_bit_sql(i: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5({_NORMALIZE_SQL}), {1 + i * 8}, 8)) "
        f"AS BIGINT) % {_XB_WORDS * 63}"
    )


@register(
    "dedup_bloom_crosscorpus",
    oracle=f"""
    WITH bits_a AS (
      SELECT DISTINCT bit FROM (
        SELECT UNNEST([{", ".join(_xb_bit_sql(i) for i in range(_XB_HASHES))}]) AS bit
        FROM documents WHERE doc_id % 2 = 0
      )
    ),
    probe AS (
      SELECT DISTINCT doc_id, source, bit FROM (
        SELECT doc_id, source,
               UNNEST([{", ".join(_xb_bit_sql(i) for i in range(_XB_HASHES))}]) AS bit
        FROM documents WHERE doc_id % 2 = 1
      )
    ),
    per_doc AS (
      SELECT p.doc_id, p.source,
             COUNT(*) AS n_bits,
             CAST(SUM(CASE WHEN a.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM probe p LEFT JOIN bits_a a ON a.bit = p.bit
      GROUP BY p.doc_id, p.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_hits = n_bits THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("dedup", "bloom"),
)
def dedup_bloom_crosscorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts of new-crawl docs whose canonical fingerprint the
    previous crawl's Bloom filter flags as already-seen. The filter side is
    a constant-size distinct-bit frame (<= 4032 rows) however large corpus A
    is — the mergeable/shippable property that makes this the incremental
    path; sketch_bloom_build is the same bitset in packed word form."""
    docs = _docs(spark, sf_dir)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    bit_arr = F.array(*[_xb_bit(i) for i in range(_XB_HASHES)])
    bits_a = a.select(F.explode(bit_arr).alias("bit")).distinct()
    probe = b.select(
        "doc_id", "source", F.explode(bit_arr).alias("bit")
    ).distinct()
    hits_a = bits_a.withColumn("hit", F.lit(1))
    per_doc = (
        probe.join(hits_a, "bit", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_bits"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_hits") == F.col("n_bits")).cast("long")).alias("n_flagged"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Edit-distance-1 near-dup pairs via deletion-neighborhood blocking (FastSS,
# Bocek et al. 2007) — the entity-resolution primitive for near-identical
# titles/names. Key insight: two strings at edit distance 1 share a member
# of each other's {self} ∪ {one-char-deletions} set (substitution: deleting
# the differing position from both yields the same string; insert/delete:
# deleting the extra char yields the other string verbatim). Candidates
# come from an equi-join on those keys — each string emits length+1 keys,
# so blocking fan-out is bounded by string length, never all-pairs. The
# exact levenshtein check runs only on blocked candidates.


@register(
    "dedup_edit_distance1",
    oracle="""
    WITH v AS (SELECT DISTINCT p_name AS w FROM part),
    k AS (
      SELECT DISTINCT w,
             CASE WHEN i = 0 THEN w
                  ELSE substr(w, 1, CAST(i - 1 AS INT))
                       || substr(w, CAST(i + 1 AS INT), length(w)) END AS k
      FROM v, LATERAL (SELECT UNNEST(generate_series(0, length(w))) AS i) g
    )
    SELECT DISTINCT a.w AS w1, b.w AS w2
    FROM k a JOIN k b ON a.k = b.k AND a.w < b.w
    WHERE levenshtein(a.w, b.w) = 1
    ORDER BY w1, w2
    """,
    tags=("dedup", "editdistance"),
)
def dedup_edit_distance1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All part-name pairs at edit distance exactly 1 ('red plate' vs
    'red plates'). Scale: the deletion-variant key table is (len+1) x
    vocabulary rows; the self-join groups by shared variant — a string
    only ever meets strings it could actually be 1 edit from. Levenshtein
    (identical semantics in Spark and DuckDB) verifies candidates."""
    part = load_tables(spark, sf_dir, ("part",))["part"]
    v = part.select(F.col("p_name").alias("w")).distinct()
    keys = v.select(
        "w",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, length(w)), i -> "
                    "CASE WHEN i = 0 THEN w ELSE concat("
                    "substring(w, 1, CAST(i - 1 AS INT)), "
                    "substring(w, CAST(i + 1 AS INT), length(w))) END)"
                )
            )
        ).alias("k"),
    )
    a = keys.select(F.col("w").alias("w1"), "k")
    b = keys.select(F.col("w").alias("w2"), "k")
    return (
        a.join(b, "k")
        .filter(F.col("w1") < F.col("w2"))
        .filter(F.levenshtein("w1", "w2") == 1)
        .select("w1", "w2")
        .distinct()
        .orderBy("w1", "w2")
    )


# ---------------------------------------------------------------------------
# Set-overlap similarity join with PREFIX FILTERING (AllPairs/PPJoin, Bayardo
# et al. 2007) — the other classic lossless candidate-pruning family next to
# the df-cap (above) and LSH banding. The lemma: order every document's
# distinct shingles by one global total order (rarest first); if
# |A ∩ B| >= T, then the first |A|-T+1 shingles of A and the first |B|-T+1
# of B MUST share an element. Candidates therefore come from an equi-join on
# PREFIX shingles only — and because prefixes are rarest-first, the join
# keys are exactly the lowest-fan-out shingles in the corpus.

_OV_T = 40  # overlap threshold (distinct shared 3-shingles)
# The threshold is deliberately in the NEAR-DUPLICATE regime (docs here
# average ~53 distinct shingles, so T=40 means ~75%+ overlap): prefix
# pruning power is prefix length n-T+1 — a low threshold leaves most of
# each doc in the prefix and the filter degenerates toward the raw shingle
# join (measured: T=8 left 1.13M candidates at sf0.1; T=40 leaves 191k,
# and the true pair set stays non-trivial). PPJoin is a high-similarity
# technique by construction; the LOW-overlap regime belongs to MinHash/LSH
# (dedup_minhash_lsh above).


@register(
    "dedup_overlap_prefix_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ),
    warr AS (
      SELECT doc_id, list(w) AS ws FROM toks GROUP BY doc_id
    ),
    sh AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
      FROM warr, LATERAL (SELECT UNNEST(generate_series(1, len(ws) - 2)) AS i) g
      WHERE len(ws) >= 3
    ),
    df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s),
    ranked AS (
      SELECT sh.doc_id, sh.s,
             ROW_NUMBER() OVER (PARTITION BY sh.doc_id ORDER BY df.df, sh.s) AS rn,
             COUNT(*) OVER (PARTITION BY sh.doc_id) AS n
      FROM sh JOIN df ON df.s = sh.s
    ),
    prefix AS (SELECT doc_id, s FROM ranked WHERE rn <= n - {_OV_T} + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM prefix a JOIN prefix b ON a.s = b.s AND a.doc_id < b.doc_id
    )
    SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS overlap
    FROM cand c
    JOIN sh x ON x.doc_id = c.d1
    JOIN sh y ON y.doc_id = c.d2 AND y.s = x.s
    GROUP BY c.d1, c.d2
    HAVING COUNT(*) >= {_OV_T}
    ORDER BY c.d1, c.d2
    """,
    tags=("dedup", "prefixfilter"),
)
def dedup_overlap_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= `_OV_T` distinct 3-token shingles, candidates
    via lossless prefix filtering. Scale: the rarest-first prefix join hits
    only low-df keys (the rarer a shingle, the smaller its join group —
    the opposite of the hot-shingle problem); per-doc ordering happens
    inside a partial-agg `collect_list` + `array_sort` (one groupBy, no
    window pass over the shingle table); verification attaches each side's
    full shingle ARRAY to the surviving candidate pairs and counts the
    overlap JVM-side with `array_intersect` — no re-explode, the verify
    shuffle carries one row per candidate pair, not one per shared shingle.
    Arrays are per-doc-distinct-shingle sized (~tens of entries), bounded
    by document length, not corpus size.

    Plan shape (measured, sf0.1): the naive formulation — candidates as a
    light (d1,d2) distinct, then two re-joins against `docs` for the
    arrays — evaluates the docs subtree FOUR times (Catalyst's exchange
    reuse never fires: the branches canonicalize differently once column
    pruning and isnotnull pushdown specialize them). Fix is twofold:
    (1) `docs` — the rarest-first sorted-shingle index — is explicitly
    materialized once per invocation with a lazy `localCheckpoint` (the
    same move as writing an inverted index once and reusing it within the
    job; the frame is one row per document with a doc-length-bounded
    array, far smaller than the corpus text); (2) each prefix row carries
    its doc's full shingle
    array through the join (classic PPJoin record-carry) and the overlap
    is computed per candidate ROW, so only (d1, d2, overlap) ints reach
    the post-filter distinct — the arrays never shuffle past the join.
    Measured 5.1 s -> 3.6 s at sf0.1 (the residual is fixed multi-stage
    latency, not data volume).

    PIPELINE-ORDERING CONTRACT (measured, tools/scale_probe.py): prefix
    filtering assumes EXACT dedup ran first. On a duplicate-heavy corpus
    (the probe's 30x exact-copy scale-up) the TRUE pair set itself grows
    quadratically in copy-group size — every pair of copies is a real
    near-dup pair — so any lossless method is super-linear there
    (measured exponent 1.70). Collapsing exact copies first (dedup_exact's
    fingerprint, the standard production ordering) restores the input to
    canonical documents and the measured exponent to sublinear; the probe
    gates the collapsed shape."""
    return prefix_overlap_pairs(
        _docs(spark, sf_dir).select(
            "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
        )
    )


def prefix_overlap_pairs(toks: DataFrame) -> DataFrame:
    """AllPairs/PPJoin >= `_OV_T` overlap pairs from (doc_id, w) rows —
    the registered query's core, shared with the scale probe's
    exact-dedup-then-prefix composition."""
    # Per-doc distinct shingles need NO shuffle: each document is one input
    # row, so `array_distinct` inside the row replaces the exploded
    # `.distinct()` (which shuffled the whole shingle table by (doc_id, s)).
    sh = toks.select(
        "doc_id", F.explode(F.array_distinct(_shingle_array(3))).alias("s")
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # One row per doc: shingles rarest-first (df asc, then s asc — the same
    # total order as the oracle's ROW_NUMBER) plus the distinct count.
    docs = (
        sh.join(df, "s")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "s"))).alias("ds"))
        .select(
            "doc_id",
            F.col("ds.s").alias("ws"),
            F.size("ds").alias("n"),
        )
        # the sorted-shingle index is used by both join sides: lazy
        # localCheckpoint (per-invocation materialization), NOT .cache() —
        # CacheManager matches by canonicalized plan, so a cached frame is
        # silently reused across bench runs (cross-run memoisation,
        # VERDICT r12 #3)
        .localCheckpoint(eager=False)
    )
    # AllPairs prefix: the first n-T+1 rarest shingles. Docs with n < T can
    # never reach the threshold — empty prefix, pruned before the join.
    # Each prefix row carries its doc's FULL shingle array so verification
    # needs no second pass over `docs` (see plan-shape note above).
    #
    # Round 13, measured and REJECTED (kept for the record): a
    # light-rows variant — join bare (doc_id, s) triples, DISTINCT the
    # candidate pairs, re-attach the arrays by two joins against the
    # checkpointed `docs` (§2.3/§8 shuffle-fewer-bytes, ~190 MB of array
    # bytes off the self-join exchange at sf0.1) — measured 2.2x SLOWER
    # in a GC-controlled alternated A/B (old 4.5 s vs new 10.0 s medians,
    # same window): at this corpus shape the added distinct exchange +
    # two attach joins cost more than shuffling the record-carry arrays
    # once, and the intersect count barely drops (203K -> 191K).
    prefix = docs.filter(F.col("n") >= _OV_T).select(
        "doc_id",
        "ws",
        F.explode(F.slice("ws", F.lit(1), F.col("n") - _OV_T + 1)).alias("s"),
    )
    a = prefix.select(F.col("doc_id").alias("d1"), F.col("ws").alias("ws1"), "s")
    b = prefix.select(F.col("doc_id").alias("d2"), F.col("ws").alias("ws2"), "s")
    return (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        # A pair appears once per shared PREFIX shingle; the intersect is
        # recomputed on each duplicate (cheap, JVM-side) so that only int
        # triples — never the arrays — reach the distinct's shuffle.
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("ws1", "ws2")).cast("long").alias("overlap"),
        )
        .filter(F.col("overlap") >= _OV_T)
        .distinct()
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# In-row LSH band keys + band-key Bloom filter — the STREAMING near-dup
# machinery. `with_band_keys` reproduces minhash_signatures' exact
# permutation math through higher-order functions so the whole signature is
# one narrow map over the token array (no explode, no groupBy): the
# documented 1.3x-slower HOF shape is precisely what a stateless streaming
# gate needs. A previous crawl's band keys collapse into a <= 4032-bit
# Bloom set (same shape as the fingerprint Bloom above), and an incoming
# doc is a near-dup SUSPECT when ANY of its band keys is probably-seen.

_LSHB_SALT = "lshb"


def with_band_keys(df: DataFrame, out: str = "band_keys") -> DataFrame:
    """Adds `out`: array<string> of `_BANDS` LSH band keys from the in-row
    token array `w`; bit-identical to grouping minhash_signatures' output
    into bands (pinned by test). Docs with no 3-shingle get an empty array.

    STAGED through intermediate columns on purpose: higher-order functions
    run interpreted (no whole-stage codegen, no common-subexpression
    elimination), so a single nested expression re-evaluates the K-min
    signature inside every band key — measured 41 s vs 2 s over sf0.1.
    CollapseProject keeps expensive multiply-referenced aliases staged, so
    each level here evaluates once per row."""
    hs_c, sig_c = f"__{out}_hs", f"__{out}_sig"
    staged = df.withColumn(
        hs_c,
        F.transform(
            F.array_distinct(_shingle_array(3)),
            lambda sh: F.conv(F.substring(F.md5(sh), 1, 15), 16, 10).cast("long"),
        ),
    ).withColumn(
        sig_c,
        F.array(
            *[
                F.array_min(
                    F.transform(
                        hs_c,
                        lambda h: (
                            F.lit(_mh_a1(i)) * F.shiftright(h, 30)
                            + F.lit(_mh_a2(i)) * h.bitwiseAND(F.lit(_MH_HALF_MASK))
                            + F.lit(i)
                        )
                        % F.lit(_MH_P),
                    )
                )
                for i in range(_K)
            ]
        ),
    )
    keys = [
        F.md5(
            F.array_join(
                F.transform(
                    F.slice(sig_c, b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
        )
        for b in range(_BANDS)
    ]
    return staged.withColumn(
        out,
        F.when(F.size(hs_c) > 0, F.array(*keys)).otherwise(
            F.expr("CAST(array() AS ARRAY<STRING>)")
        ),
    ).drop(hs_c, sig_c)


def _lshb_bit(key: Column, i: int) -> Column:
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{_LSHB_SALT}{i}:"), key)), 1, 8), 16, 10)
        .cast("long") % (_XB_WORDS * 63)
    )


def lsh_band_bloom_positions(docs: DataFrame) -> list[int]:
    """Distinct Bloom bit positions of a corpus's LSH band keys — the
    constant-size (<= 4032) filter artifact a streaming gate broadcasts.
    The ONE collect here is the documented bounded-artifact pattern (same
    contract as bloom_gated_stream's prev_bits)."""
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    keys = with_band_keys(toks).select(F.explode("band_keys").alias("k"))
    bits = keys.select(
        F.explode(F.array(*[_lshb_bit(F.col("k"), i) for i in range(_XB_HASHES)])).alias("bit")
    ).distinct()
    return [int(r.bit) for r in bits.collect()]


# ---------------------------------------------------------------------------
# Cross-corpus banded near-dup scan — the BATCH sibling of lsh_gated_stream:
# flag new-crawl (odd doc_id) documents that share ANY LSH band key with the
# previous crawl (even doc_id). Exact band-key semi-join here (the batch can
# afford the key table; the stream trades it for the Bloom bitset's
# one-sided error). Same signature math as dedup_minhash_lsh.


@register(
    "dedup_lsh_crosscorpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), hashed AS (
      SELECT doc_id,
             {_md5_int_sql("sh")} >> 30 AS hi,
             {_md5_int_sql("sh")} & {_MH_HALF_MASK} AS lo
      FROM shingles
    ), sig AS (
      SELECT doc_id, h.i AS i,
             MIN(((1000003 * h.i + 12345) * hi + (999983 * h.i + 67891) * lo + h.i)
                 % {_MH_P}) AS mh
      FROM hashed, LATERAL (SELECT UNNEST(generate_series(0, {_K - 1})) AS i) h
      GROUP BY doc_id, h.i
    ), bands AS (
      SELECT doc_id, i // {_ROWS_PER_BAND} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sig GROUP BY doc_id, i // {_ROWS_PER_BAND}
    ), prev AS (
      SELECT DISTINCT band, band_key FROM bands WHERE doc_id % 2 = 0
    ), flagged AS (
      SELECT DISTINCT b.doc_id
      FROM bands b JOIN prev p ON p.band = b.band AND p.band_key = b.band_key
      WHERE b.doc_id % 2 = 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_near_dup
    FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
    WHERE d.doc_id % 2 = 1
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("dedup", "minhash", "crosscorpus"),
)
def dedup_lsh_crosscorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts of new-crawl docs sharing >= 1 LSH band with the
    previous crawl. Scale: the previous crawl collapses to its DISTINCT
    (band, band_key) table before the join (band-count x corpus rows, each
    tiny); flagging is a semi-join on the band key — bucket-bounded fan-out,
    never all-pairs. The streaming sibling (lsh_gated_stream) ships the
    same keys as a Bloom bitset instead of a join side.

    Plan shape: the BATCH path uses the explode + groupBy signature build
    (minhash_signatures) — measured 45 s -> ~2 s at sf0.1 vs the in-row HOF
    form, whose giant lambda expression tree is evaluated interpreted (no
    whole-stage codegen for higher-order functions, so no common-
    subexpression reuse across the 4 band keys). The HOF form stays the
    STREAMING gate's shape, where statelessness is worth that price on
    micro-batch volumes (with_band_keys docstring)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    sig = minhash_signatures(toks)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice("sig", b * _ROWS_PER_BAND + 1, _ROWS_PER_BAND),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_key"),
        )
        for b in range(_BANDS)
    ]
    keyed = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    # One signature pass: the prev-crawl membership test and the new-crawl
    # doc set fold into a single per-bucket aggregate, so the expensive
    # MinHash build runs once with no materialization barrier (the naive
    # prev-distinct + semi-join form read `keyed` twice, re-running the
    # whole tokenize + K-min subtree per branch — 6 parquet scans in the
    # plan; a lazy checkpoint fixed the double build but its barrier
    # serialized the branches and measured 1.07-1.10x). The per-bucket
    # collect_set is bounded by LSH bucket size — the same boundedness the
    # semi-join's fan-out already relied on.
    flagged = (
        keyed.groupBy("band", "band_key")
        .agg(
            F.max(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("has_prev"),
            F.collect_set(
                F.when(F.col("doc_id") % 2 == 1, F.col("doc_id"))
            ).alias("new_ids"),
        )
        .filter((F.col("has_prev") == 1) & (F.size("new_ids") > 0))
        .select(F.explode("new_ids").alias("doc_id"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source")
    return (
        new.join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_near_dup"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# MinHash estimator-error evaluation (round 9): for every LSH candidate
# pair, the signature-agreement Jaccard estimate (matches/K) next to the
# TRUE shingle Jaccard computed exactly over just those pairs — the
# calibration report every MinHash deployment runs before picking K and the
# band layout (Broder 1997's estimator; its stderr is sqrt(j(1-j)/K)).
#
# Scale: the exact side runs ONLY on the candidate pairs (LSH-bounded, not
# all-pairs) via candidate-constrained shingle equi-joins; est and true are
# exact rationals (int/K, inter/union) so both engines agree bit-for-bit.
@register(
    "dedup_minhash_estimate_error",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), hashed AS (
      SELECT doc_id,
             {_md5_int_sql("sh")} >> 30 AS hi,
             {_md5_int_sql("sh")} & {_MH_HALF_MASK} AS lo
      FROM shingles
    ), sig AS (
      SELECT doc_id, h.i AS i,
             MIN(((1000003 * h.i + 12345) * hi + (999983 * h.i + 67891) * lo + h.i)
                 % {_MH_P}) AS mh
      FROM hashed, LATERAL (SELECT UNNEST(generate_series(0, {_K - 1})) AS i) h
      GROUP BY doc_id, h.i
    ), bands AS (
      SELECT doc_id, i // {_ROWS_PER_BAND} AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS band_key
      FROM sig GROUP BY doc_id, i // {_ROWS_PER_BAND}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ), est AS (
      SELECT c.d1, c.d2,
             CAST(SUM(CASE WHEN s1.mh = s2.mh THEN 1 ELSE 0 END) AS DOUBLE)
               / {_K} AS est_j
      FROM cand c JOIN sig s1 ON s1.doc_id = c.d1
                  JOIN sig s2 ON s2.doc_id = c.d2 AND s1.i = s2.i
      GROUP BY c.d1, c.d2
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id
    ), inter AS (
      SELECT c.d1, c.d2, CAST(COUNT(*) AS BIGINT) AS i
      FROM cand c JOIN shingles a ON a.doc_id = c.d1
                  JOIN shingles b ON b.doc_id = c.d2 AND b.sh = a.sh
      GROUP BY c.d1, c.d2
    )
    SELECT e.d1, e.d2,
           ROUND(e.est_j, 4) AS est_jaccard,
           ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (s1.n + s2.n - COALESCE(i.i, 0)), 4) AS true_jaccard,
           ROUND(ABS(e.est_j - CAST(COALESCE(i.i, 0) AS DOUBLE)
                 / (s1.n + s2.n - COALESCE(i.i, 0))), 4) AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.d1 = e.d1 AND i.d2 = e.d2
    JOIN sizes s1 ON s1.doc_id = e.d1
    JOIN sizes s2 ON s2.doc_id = e.d2
    ORDER BY e.d1, e.d2
    """,
    tags=("dedup", "minhash", "evaluation"),
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    # shingles feeds the size agg and BOTH intersection join sides —
    # materialize it once (the same doc x distinct-shingle index the other
    # dedup ops persist). est is deliberately NOT checkpointed: it is
    # consumed twice, but materializing it puts a hard barrier across the
    # whole LSH sub-pipeline and measured 1.9x SLOWER than letting the two
    # consumers overlap (the LSH subtree's exchanges are reused by Catalyst).
    est = dedup_minhash_lsh(spark, sf_dir).select(
        "d1", "d2", F.col("est_jaccard").alias("est_j")
    )
    shingles = toks.select(
        "doc_id", F.explode(_shingle_array(3)).alias("sh")
    ).distinct().localCheckpoint(eager=False)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        est.select("d1", "d2")
        .join(shingles.select(F.col("doc_id").alias("d1"), "sh"), "d1")
        .join(
            shingles.select(F.col("doc_id").alias("d2"), "sh"),
            ["d2", "sh"],
        )
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    true_j = F.coalesce(F.col("i"), F.lit(0)).cast("double") / (
        F.col("n1") + F.col("n2") - F.coalesce(F.col("i"), F.lit(0))
    )
    return (
        est.join(inter, ["d1", "d2"], "left")
        .join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1", "d2",
            F.round("est_j", 4).alias("est_jaccard"),
            F.round(true_j, 4).alias("true_jaccard"),
            F.round(F.abs(F.col("est_j") - true_j), 4).alias("abs_err"),
        )
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster size distribution (round 9): the dedup report every
# large-scale run publishes — "how many clusters of size 2, 3, ...; how
# many docs do we drop". Built ON the transitive clusters
# (cluster_canonical), not the raw pairs: a 3-clique is ONE cluster of 3,
# not 3 pairs. The histogram is cluster-size-domain sized; singletons
# (docs in no cluster) are reported as size 1 via the complement count.
@register(
    "dedup_cluster_size_dist",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), cold AS (
      SELECT sh FROM all_shingles GROUP BY sh HAVING COUNT(*) <= {_NGRAM_MAX_DF}
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
    ), csize AS (
      SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM canon GROUP BY canonical_id
    ), hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(cluster_size - 1) AS BIGINT) AS docs_droppable
      FROM csize GROUP BY cluster_size
    )
    SELECT CAST(1 AS BIGINT) AS cluster_size,
           CAST((SELECT COUNT(*) FROM toks)
                - (SELECT COUNT(*) FROM canon) AS BIGINT) AS n_clusters,
           CAST(0 AS BIGINT) AS docs_droppable
    UNION ALL
    SELECT cluster_size, n_clusters, docs_droppable FROM hist
    ORDER BY cluster_size
    """,
    tags=("dedup", "cluster", "report"),
)
def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    pairs = _ngram_jaccard_pairs(toks).select("d1", "d2")
    canon = cluster_canonical(pairs, "d1", "d2")
    csize = canon.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("docs_droppable"),
    )
    # singleton row computed DISTRIBUTIVELY (anti-join + aggregate) — no
    # driver-side counts in a registered query
    singletons = (
        toks.select("doc_id")
        .join(canon.select("doc_id"), "doc_id", "left_anti")
        .agg(
            F.lit(1).cast("long").alias("cluster_size"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.lit(0).cast("long").alias("docs_droppable"),
        )
    )
    return singletons.unionByName(
        hist.select(
            F.col("cluster_size").cast("long"),
            F.col("n_clusters").cast("long"),
            "docs_droppable",
        )
    ).orderBy("cluster_size")


# ---------------------------------------------------------------------------
# Containment dedup (Broder 1997, "On the resemblance and containment of
# documents" — the SAME paper MinHash comes from, but the asymmetric
# measure: C(A->B) = |A n B| / |A|). Jaccard misses a short doc embedded
# verbatim inside a much longer one (the union term swamps it); containment
# flags it at ~1.0. This is the quote/boilerplate/doc-inside-doc detector a
# crawl pipeline runs NEXT TO near-dup Jaccard, sharing the exact same
# df-capped shingle candidate core (capped_setsim_pairs) — one candidate
# generation pass can feed both measures.
_CONTAIN_THR = 0.6


@register(
    "dedup_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w
      FROM documents WHERE doc_id < 300
    ), all_shingles AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS sh
      FROM toks, LATERAL (SELECT UNNEST(generate_series(1, len(w) - 2)) AS i)
    ), cold AS (
      SELECT sh FROM all_shingles GROUP BY sh HAVING COUNT(*) <= {_NGRAM_MAX_DF}
    ), shingles AS (
      SELECT s.doc_id, s.sh FROM all_shingles s JOIN cold USING (sh)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), sized AS (
      SELECT id1, id2, inter, s1.n AS n1, s2.n AS n2
      FROM pairs JOIN sizes s1 ON id1 = s1.doc_id
                 JOIN sizes s2 ON id2 = s2.doc_id
    )
    SELECT d_sub, d_super, containment, jaccard FROM (
      SELECT id1 AS d_sub, id2 AS d_super,
             ROUND(CAST(inter AS DOUBLE) / n1, 4) AS containment,
             ROUND(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4) AS jaccard,
             CAST(inter AS DOUBLE) / n1 AS c_raw
      FROM sized
      UNION ALL
      SELECT id2, id1,
             ROUND(CAST(inter AS DOUBLE) / n2, 4),
             ROUND(CAST(inter AS DOUBLE) / (n1 + n2 - inter), 4),
             CAST(inter AS DOUBLE) / n2
      FROM sized
    ) u
    WHERE c_raw > {_CONTAIN_THR}
    ORDER BY d_sub, d_super
    """,
    tags=("dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs over df-capped 3-gram shingles: one row
    per (contained, container) direction above the threshold, with the
    symmetric Jaccard alongside to show what it would have missed. Same
    candidate plan as dedup_ngram_jaccard — the only change is driver-side
    arithmetic on (inter, n1, n2)."""
    docs = _docs(spark, sf_dir)
    toks = docs.filter(F.col("doc_id") < 300).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    shingles = toks.select(
        "doc_id", F.explode(_shingle_array(3)).alias("sh")
    ).distinct()
    sized = capped_setsim_pairs(shingles, "doc_id", ["sh"], _NGRAM_MAX_DF)
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n1") + F.col("n2") - F.col("inter")),
        4,
    )

    def _dir(sub: str, sup: str, n: str) -> DataFrame:
        c_raw = F.col("inter").cast("double") / F.col(n)
        return sized.select(
            F.col(sub).alias("d_sub"),
            F.col(sup).alias("d_super"),
            F.round(c_raw, 4).alias("containment"),
            jac.alias("jaccard"),
            c_raw.alias("c_raw"),
        )

    return (
        _dir("id1", "id2", "n1")
        .unionAll(_dir("id2", "id1", "n2"))
        .filter(F.col("c_raw") > _CONTAIN_THR)
        .drop("c_raw")
        .orderBy("d_sub", "d_super")
    )


# ---------------------------------------------------------------------------
# Winnowing-overlap dedup — the MOSS use-case for the fingerprints above
# (Schleimer et al. 2003 §4): two documents sharing >= t POSITION-FREE
# winnowing fingerprints share local substrings of length >= w + k - 1.
# Complements the shingle-Jaccard family: fingerprints are ~2/(w+1) as
# numerous as shingles, so candidate generation joins a frame ~2.5x
# smaller at the same guarantee window. Shares the selection rule with
# text_winnowing_fingerprint (pipeline/text.py) and the df-capped
# candidate core with every set-similarity dedup in this module.
_WINNOW_MIN_SHARED = 3


def _winnow_oracle() -> str:
    from hyrise_spark.pipeline.text import _WIN_K, _WIN_POS, _WIN_W

    return f"""
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
      SELECT DISTINCT doc_id, win_min // {_WIN_POS} AS h
      FROM wins WHERE pos <= n_kg - {_WIN_W - 1}
    ),
    cold AS (
      SELECT h FROM fp GROUP BY h HAVING COUNT(*) <= {_NGRAM_MAX_DF}
    ),
    kept AS (SELECT f.doc_id, f.h FROM fp f JOIN cold USING (h)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2, CAST(shared AS BIGINT) AS shared,
           ROUND(CAST(shared AS DOUBLE) / LEAST(s1.n, s2.n), 4) AS overlap
    FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
    WHERE shared >= {_WINNOW_MIN_SHARED}
    ORDER BY d1, d2
    """


@register(
    "dedup_winnowing_overlap",
    oracle=_winnow_oracle(),
    tags=("dedup", "winnowing", "fingerprint"),
)
def dedup_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs sharing >= 3 winnowing fingerprint hashes, scored by the
    overlap coefficient shared/min(|A|,|B|). Candidate generation is the
    shared df-capped equi-join core over the ~2/(w+1)-density fingerprint
    frame — never all-pairs."""
    from hyrise_spark.pipeline.text import _WIN_POS, winnow_fingerprints

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("w")
    )
    fp = (
        winnow_fingerprints(toks)
        # integer div, NOT double division: win_min spans up to 2^57 —
        # a double mantissa rounds it and can leak +/-1 into the hash part
        .select("doc_id", F.expr(f"win_min div {_WIN_POS}").alias("h"))
        .distinct()
    )
    sized = capped_setsim_pairs(fp, "doc_id", ["h"], _NGRAM_MAX_DF)
    return (
        sized.filter(F.col("inter") >= _WINNOW_MIN_SHARED)
        .select(
            F.col("id1").alias("d1"),
            F.col("id2").alias("d2"),
            F.col("inter").cast("long").alias("shared"),
            F.round(
                F.col("inter").cast("double")
                / F.least(F.col("n1"), F.col("n2")),
                4,
            ).alias("overlap"),
        )
        .orderBy("d1", "d2")
    )
