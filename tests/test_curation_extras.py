"""Round-7 curation additions: paragraph-level dedup (Dolma-style),
semantic dedup (SemDeDup), hashed-linear quality classifier, and the
deterministic epoch shuffle. The DuckDB differential covers value
correctness; these tests pin the SEMANTICS on hand-built corpora and the
determinism/partitioning contracts the oracles cannot see."""
from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hyrise_spark.pipeline.curate import _SHUF_SHARDS, curate_epoch_shuffle
from hyrise_spark.pipeline.dedup import (
    _PARA,
    _SEM_TAU,
    dedup_paragraph,
    dedup_semantic,
)
from hyrise_spark.pipeline.text import text_quality_classifier

SF_DIR = "/root/testdata/sf0.001"


def test_paragraph_dedup_drops_repeated_boilerplate(spark, tmp_path):
    """A paragraph shared by two docs survives only in the first (by doc_id);
    unique paragraphs all survive; reassembly preserves in-doc order."""
    boiler = " ".join(f"b{i}" for i in range(_PARA))
    uniq_a = " ".join(f"a{i}" for i in range(_PARA))
    uniq_c = " ".join(f"c{i}" for i in range(_PARA))
    df = spark.createDataFrame(
        [
            (0, boiler + " " + uniq_a, "en", "s", 0),
            (1, boiler + " " + uniq_c, "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs")
    df.repartition(1).write.parquet(path + "/documents.parquet")
    rows = {r.doc_id: r for r in dedup_paragraph(spark, path).collect()}
    assert rows[0].n_para == 2 and rows[0].n_kept == 2
    assert rows[0].dedup_text == boiler + " " + uniq_a  # order preserved
    assert rows[1].n_para == 2 and rows[1].n_kept == 1
    assert rows[1].dedup_text == uniq_c  # boilerplate gone, unique kept


def test_paragraph_dedup_within_doc_repetition(spark, tmp_path):
    """The same paragraph repeated INSIDE one doc keeps only the first copy."""
    p = " ".join(f"x{i}" for i in range(_PARA))
    df = spark.createDataFrame(
        [(7, p + " " + p, "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs")
    df.write.parquet(path + "/documents.parquet")
    (r,) = dedup_paragraph(spark, path).collect()
    assert (r.n_para, r.n_kept, r.dedup_text) == (2, 1, p)


def test_semantic_dedup_drops_near_duplicate_vector(spark, tmp_path):
    """A vector nearly parallel to its cluster representative is dropped;
    an orthogonal one in the same cluster is kept; representatives are
    always kept (even though their self-similarity is 1.0)."""
    import math

    # seeds 0..7: orthogonal-ish basis so cluster assignment is trivial
    rows = []
    for i in range(8):
        v = [0.0] * 8
        v[i] = 1.0
        rows.append((i, v, 0))
    # vec 10: almost exactly seed 0's direction -> cluster 0, rep is vec 0
    eps = 0.01
    near = [1.0, eps, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    rows.append((10, near, 0))
    # vec 11: leans to seed 0 but far from parallel (cos ~ 0.71) -> kept
    far = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.98]
    rows.append((11, far, 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    path = str(tmp_path / "emb")
    df.write.parquet(path + "/embeddings.parquet")
    out = {r.vec_id: r for r in dedup_semantic(spark, path).collect()}
    assert out[0].kept  # representative of cluster 0
    assert not out[10].kept  # cos to rep ~ 0.99995 > tau
    assert out[10].rep_sim > _SEM_TAU
    assert out[11].kept and out[11].cell == 0  # same cluster, dissimilar
    assert out[11].rep_sim == pytest.approx(1 / math.sqrt(1 + 0.98**2), abs=1e-3)


def test_quality_classifier_deterministic_and_zero_shuffle(spark):
    """Same input -> identical logits across runs, and the physical plan has
    NO exchange: the classifier is a pure narrow map."""
    a = text_quality_classifier(spark, SF_DIR)
    b = text_quality_classifier(spark, SF_DIR)
    ra = sorted((r.doc_id, r.quality_logit, r.keep) for r in a.collect())
    rb = sorted((r.doc_id, r.quality_logit, r.keep) for r in b.collect())
    assert ra == rb
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_epoch_shuffle_is_reproducible_partition_of_corpus(spark):
    """Every doc lands in exactly one shard, positions are dense 1..n per
    shard, and the assignment is identical across runs."""
    out = curate_epoch_shuffle(spark, SF_DIR).collect()
    again = curate_epoch_shuffle(spark, SF_DIR).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r.shard < _SHUF_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert sum(len(v) for v in by_shard.values()) == 500  # every doc once
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense ranks


def test_epoch_shuffle_no_global_sort(spark):
    """The plan must sort within shard partitions only — a global Sort or
    a single-partition exchange would serialize the 100 TB corpus."""
    df = curate_epoch_shuffle(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_substring_coverage_detects_cross_doc_copy(spark, tmp_path):
    """A 30-token run copied verbatim between two otherwise-different docs
    marks exactly its windows as duplicated in BOTH docs; a fully unique
    doc reports zero coverage."""
    from hyrise_spark.pipeline.dedup import _XS_N, dedup_substring_coverage

    shared = " ".join(f"s{i}" for i in range(_XS_N))
    pre = " ".join(f"p{i}" for i in range(10))
    post = " ".join(f"q{i}" for i in range(10))
    rows = [
        (0, pre + " " + shared, "en", "s", 0),        # shared at the end
        (1, shared + " " + post, "en", "s", 0),       # shared at the start
        (2, " ".join(f"u{i}" for i in range(50)), "en", "s", 0),  # unique
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "docs")
    df.write.parquet(path + "/documents.parquet")
    out = {r.doc_id: r for r in dedup_substring_coverage(spark, path).collect()}
    # docs 0/1: 40 tokens -> 11 windows each; ONLY the one aligned window
    # (the shared run itself) exists in both
    assert out[0].n_windows == 11 and out[1].n_windows == 11
    assert out[0].n_dup_windows == 1 and out[1].n_dup_windows == 1
    assert out[0].dup_bps == 10000 // 11
    assert out[2].n_dup_windows == 0 and out[2].dup_bps == 0


def test_bigram_perplexity_matches_python(spark):
    """Exact driver-side recompute of the bit-length bigram cross-entropy
    (test-SF only; the registered query never collects)."""
    from hyrise_spark.pipeline.text import _PPL_DEN, _PPL_NUM, text_bigram_perplexity

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    bc: dict[tuple[str, str], int] = {}
    trans: dict[int, list[tuple[str, str]]] = {}
    for r in docs:
        ws = r.text.strip().lower().split()
        ts = list(zip(ws, ws[1:]))
        if ts:
            trans[r.doc_id] = ts
        for t in ts:
            bc[t] = bc.get(t, 0) + 1
    pc: dict[str, int] = {}
    for (w1, _), c in bc.items():
        pc[w1] = pc.get(w1, 0) + c
    expected = {}
    for d, ts in trans.items():
        bits = sum(pc[w1].bit_length() - 1 - (bc[(w1, w2)].bit_length() - 1)
                   for (w1, w2) in ts)
        expected[d] = (len(ts), bits, bits * _PPL_DEN > len(ts) * _PPL_NUM)
    got = {
        r.doc_id: (r.n_trans, r.bigram_bits, r.high_ppl_flag)
        for r in text_bigram_perplexity(spark, SF_DIR).collect()
    }
    assert got == expected
    flags = {v[2] for v in got.values()}
    assert flags == {True, False}  # the threshold separates the corpus


def test_priority_sample_matches_python(spark):
    """Exact driver-side replay of Duffield priority sampling: same md5
    slice, same single IEEE divide, same top-k and tau."""
    import hashlib

    from hyrise_spark.pipeline.curate import (
        _PRIO_K,
        _PRIO_SALT,
        _PRIO_SCALE,
        curate_priority_sample,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    q = []
    for r in docs:
        w = len(r.text.strip().lower().split())
        h = int(hashlib.md5(f"{_PRIO_SALT}{r.doc_id}".encode()).hexdigest()[:12], 16)
        u = float(h + 1) / float(_PRIO_SCALE)
        q.append((float(w) / u, r.doc_id, w))
    q.sort(key=lambda t: (-t[0], t[1]))
    tau = q[_PRIO_K][0]
    expected = {
        (d, w, max(float(w), tau)) for (p, d, w) in q[:_PRIO_K]
    }
    got = {
        (r.doc_id, r.weight, r.ht_weight)
        for r in curate_priority_sample(spark, SF_DIR).collect()
    }
    assert got == expected
    # HT estimator sanity: the weighted subset sum is in the right decade
    total = sum(w for (_, _, w) in q)
    est = sum(hw for (_, _, hw) in got)
    assert 0.2 * total < est < 5 * total


def test_gopher_rules_flag_separates(spark):
    """The recalibrated Gopher thresholds must actually split the corpus
    (a gate that keeps or drops everything is miscalibrated)."""
    from hyrise_spark.pipeline.text import curate_gopher_rules

    rows = curate_gopher_rules(spark, SF_DIR).collect()
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows)
    # every rule must have at least one sole-cause rejection candidate:
    # docs failing word count, mean word length, stop words, or short-word
    # cap each exist in the corpus
    assert any(not (20 <= r.n_words <= 90) for r in rows)
    assert any(r.stop_hits < 2 for r in rows)


def test_langid_metrics_same_rows_under_ansi(spark, tmp_path):
    """A true label the classifier never predicts has tp + fp = 0: its
    precision is NULL, not a DIVIDE_BY_ZERO error, so the query returns
    the same rows with spark.sql.ansi.enabled on and off."""
    from hyrise_spark.pipeline.text import text_langid_metrics

    df = spark.createDataFrame(
        [
            (0, "the cat and a dog", "en", "s", 17),
            (1, "the bird and a fish", "de", "s", 19),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs")
    df.repartition(1).write.parquet(path + "/documents.parquet")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        off = text_langid_metrics(spark, path).collect()
        spark.conf.set("spark.sql.ansi.enabled", "true")
        on = text_langid_metrics(spark, path).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert on == off
    de = next(r for r in off if r.lang == "de")
    assert (de.tp, de.fp, de.fn) == (0, 0, 1) and de.precision is None
