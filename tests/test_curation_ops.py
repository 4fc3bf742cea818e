"""Round-5 curation operators: snapshot diff, source-overlap matrix,
unigram KL divergence, document chunking. Each op also has a driver
oracle row (tools/check_entry.py) — these tests pin the SEMANTICS on
hand-computable inputs plus the plan-discipline properties.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from sparkval.constraints import corpus_diff
from sparkval.pipeline.dedup import group_overlap_matrix
from sparkval.pipeline.sampling import chunk_documents
from sparkval.stats import unigram_divergence


# ---------------------------------------------------------------- corpus_diff

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_corpus_diff_statuses(spark):
    prev = _docs(spark, [(1, "a"), (2, "b"), (3, "c"), (4, None)])
    cur = _docs(spark, [(1, "a"), (2, "B!"), (5, "new"), (4, None)])
    got = {
        r["doc_id"]: r["status"] for r in corpus_diff(cur, prev).collect()
    }
    assert got == {
        1: "unchanged", 2: "changed", 3: "removed", 5: "added", 4: "unchanged"
    }


def test_corpus_diff_null_vs_empty_is_changed(spark):
    # NULL and '' must classify as changed (distinct states), which is
    # why the fingerprint maps NULL to a sentinel instead of coalescing
    prev = _docs(spark, [(1, "")])
    cur = _docs(spark, [(1, None)])
    [r] = corpus_diff(cur, prev).collect()
    assert r["status"] == "changed"


def test_corpus_diff_multi_content_cols(spark):
    prev = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "en")], "doc_id long, text string, lang string"
    )
    cur = spark.createDataFrame(
        [(1, "a", "fr"), (2, "b", "en")], "doc_id long, text string, lang string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpus_diff(cur, prev, content_cols=("text", "lang")).collect()
    }
    assert got == {1: "changed", 2: "unchanged"}


def test_corpus_diff_report_counts(spark):
    from collections import Counter

    prev = _docs(spark, [(i, f"t{i}") for i in range(10)])
    cur = _docs(
        spark,
        [(i, f"t{i}" if i % 3 else "edited") for i in range(8)]
        + [(100, "new")],
    )
    rep = Counter(r["status"] for r in corpus_diff(cur, prev).collect())
    # ids 0..7 survive; 0,3,6 edited (changed), 8,9 removed, 100 added
    assert rep == {"added": 1, "removed": 2, "changed": 3, "unchanged": 5}


def test_corpus_diff_plan_shuffles_fingerprints_not_content(spark, sf_dir):
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    plan = corpus_diff(docs, docs)._jdf.queryExecution().executedPlan().toString()
    # the Exchange partitions on the id only — the text column is
    # consumed by the sha2 Project BELOW it and never crosses the wire
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------- group_overlap_matrix

def test_group_overlap_matrix_hand_computed(spark):
    # g1: shingles over 6 tokens -> {a b c d e, b c d e f}
    # g2: same text             -> identical set, jaccard 1.0
    # g3: disjoint text         -> no pair rows vs g1/g2 (sparse output)
    df = spark.createDataFrame(
        [
            ("g1", "a b c d e f"),
            ("g2", "a b c d e f"),
            ("g3", "p q r s t u"),
        ],
        "source string, text string",
    )
    rows = group_overlap_matrix(df, k_shingle=5).collect()
    assert len(rows) == 1
    [r] = rows
    assert (r["group_a"], r["group_b"]) == ("g1", "g2")
    assert r["n_grams_a"] == r["n_grams_b"] == 2
    assert r["n_common"] == 2 and r["jaccard"] == 1.0


def test_group_overlap_matrix_partial_overlap(spark):
    df = spark.createDataFrame(
        [("g1", "a b c d e"), ("g2", "a b c d e x"), ("g2", "z z z z z")],
        "source string, text string",
    )
    [r] = group_overlap_matrix(df, k_shingle=5).collect()
    # g1={abcde}, g2={abcde, bcdex, zzzzz}: inter 1, union 3
    assert r["n_common"] == 1 and r["n_grams_b"] == 3
    assert r["jaccard"] == pytest.approx(1 / 3, abs=1e-6)


def test_group_overlap_short_docs_emit_nothing(spark):
    df = spark.createDataFrame(
        [("g1", "a b"), ("g2", None), ("g3", "")], "source string, text string"
    )
    assert group_overlap_matrix(df, k_shingle=5).count() == 0


def test_group_overlap_plan_no_cartesian_no_python(spark, sf_dir):
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    plan = (
        group_overlap_matrix(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


# --------------------------------------------------------- unigram_divergence

def test_unigram_divergence_uniform_groups_are_zero(spark):
    # both groups have the corpus distribution -> KL exactly 0
    df = spark.createDataFrame(
        [("a", "x y"), ("b", "x y")], "source string, text string"
    )
    for r in unigram_divergence(df).collect():
        assert r["kl_vs_corpus"] == 0.0
        assert r["n_tokens"] == 2 and r["n_distinct_terms"] == 2


def test_unigram_divergence_skewed_group_positive(spark):
    df = spark.createDataFrame(
        [("a", "x x x y"), ("b", "y y y x")], "source string, text string"
    )
    got = {r["group"]: r["kl_vs_corpus"] for r in unigram_divergence(df).collect()}
    # p=(3/4,1/4) vs q=(1/2,1/2): KL = .75*ln(1.5)+.25*ln(.5)
    import math

    expect = round(0.75 * math.log(1.5) + 0.25 * math.log(0.5), 6)
    assert got["a"] == pytest.approx(expect, abs=2e-6)
    assert got["b"] == pytest.approx(expect, abs=2e-6)  # symmetric here


def test_unigram_divergence_skips_empty_docs(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("a", ""), ("a", None)], "source string, text string"
    )
    [r] = unigram_divergence(df).collect()
    assert r["n_tokens"] == 1


# ------------------------------------------------------------ chunk_documents

def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_chunk_documents_windows_and_hashes(spark):
    text = "abcdefghij"  # len 10, C=4, S=3 -> starts 0,3,6,9
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = chunk_documents(df, chunk_size=4, stride=3).orderBy("chunk_idx").collect()
    assert [(r["chunk_start"], r["chunk_len"]) for r in rows] == [
        (0, 4), (3, 4), (6, 4), (9, 1)
    ]
    assert rows[0]["chunk_md5"] == _md5("abcd")
    assert rows[3]["chunk_md5"] == _md5("j")


def test_chunk_documents_empty_and_null_emit_nothing(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "ab")], "doc_id long, text string"
    )
    rows = chunk_documents(df, chunk_size=4, stride=3).collect()
    assert [(r["doc_id"], r["chunk_idx"]) for r in rows] == [(3, 0)]


def test_chunk_documents_exact_boundary(spark):
    # len == stride: one chunk covers everything, no phantom 2nd chunk
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    rows = chunk_documents(df, chunk_size=4, stride=3).collect()
    assert len(rows) == 1 and rows[0]["chunk_len"] == 3


def test_chunk_documents_full_coverage_property(spark):
    # every character position is covered by at least one chunk
    df = spark.createDataFrame(
        [(i, "x" * n) for i, n in enumerate([1, 5, 96, 97, 128, 129, 577])],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_size=128, stride=96).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    lens = [1, 5, 96, 97, 128, 129, 577]
    for i, n in enumerate(lens):
        spans = sorted(
            (r["chunk_start"], r["chunk_start"] + r["chunk_len"])
            for r in by_doc[i]
        )
        covered = 0
        for s, e in spans:
            assert s <= covered  # no gap
            covered = max(covered, e)
        assert covered == n


def test_chunk_documents_rejects_gappy_stride(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=4, stride=5)
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_size=0, stride=0)


def test_chunk_documents_plan_is_shuffle_free_codegen(spark, sf_dir):
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    plan = (
        chunk_documents(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "*(1)" in plan  # single whole-stage-codegen span, scan to output


# ------------------------------------------------- unigram LM NLL scoring

def test_unigram_nll_hand_computed(spark):
    import math

    from sparkval.pipeline.text import unigram_lm, with_unigram_nll

    ref = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    lm = unigram_lm(ref)
    assert {r["term"]: r["n"] for r in lm.collect()} == {"a": 2, "b": 1}
    # total=3, |V|=2 -> denom 6; p(a)=3/6, p(OOV c)=1/6
    target = spark.createDataFrame([(10, "a c")], "doc_id long, text string")
    [r] = with_unigram_nll(target, lm).collect()
    assert r["n_tokens"] == 2 and r["oov_frac"] == 0.5
    assert r["mean_nll"] == pytest.approx(
        round((math.log(2) + math.log(6)) / 2, 6), abs=1e-6
    )


def test_unigram_nll_empty_lm_uniform_floor(spark):
    from sparkval.pipeline.text import unigram_lm, with_unigram_nll

    empty = spark.createDataFrame([], "doc_id long, text string")
    target = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    [r] = with_unigram_nll(target, unigram_lm(empty)).collect()
    # p = 1/(0+0+1) = 1 -> nll 0, everything OOV
    assert r["mean_nll"] == 0.0 and r["oov_frac"] == 1.0


def test_unigram_nll_keeps_rows_and_nulls_empty_docs(spark):
    # the with_* contract: every input row (and column) survives;
    # empty/NULL docs have nothing to score -> NULL metrics
    from sparkval.pipeline.text import unigram_lm, with_unigram_nll

    ref = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    target = spark.createDataFrame(
        [(1, ""), (2, None), (3, "a")], "doc_id long, text string"
    )
    out = with_unigram_nll(target, unigram_lm(ref))
    assert set(out.columns) == {
        "doc_id", "text", "n_tokens", "oov_frac", "mean_nll"
    }
    rows = {r["doc_id"]: r for r in out.collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1]["mean_nll"] is None and rows[2]["n_tokens"] is None
    assert rows[3]["n_tokens"] == 1


# ------------------------------------------------- TF-IDF signature terms

def test_source_signature_hand_computed(spark):
    import math

    from sparkval.pipeline.text import source_signature_terms

    df = spark.createDataFrame(
        [("g1", "x x y"), ("g2", "y z")], "source string, text string"
    )
    rows = source_signature_terms(df, k=5).orderBy("group", "rank").collect()
    got = [(r["group"], r["rank"], r["term"], r["tfidf"]) for r in rows]
    assert got == [
        ("g1", 1, "x", pytest.approx(round(2 / 3 * math.log(2), 6))),
        ("g1", 2, "y", 0.0),
        ("g2", 1, "z", pytest.approx(round(1 / 2 * math.log(2), 6))),
        ("g2", 2, "y", 0.0),
    ]


def test_source_signature_k_cut_and_validation(spark):
    from sparkval.pipeline.text import source_signature_terms

    df = spark.createDataFrame(
        [("g1", "a b c d e"), ("g2", "f")], "source string, text string"
    )
    rows = source_signature_terms(df, k=2).collect()
    assert max(r["rank"] for r in rows) <= 2
    with pytest.raises(ValueError):
        source_signature_terms(df, k=0)


def test_nll_and_signature_plans_no_python_no_cartesian_on_data(spark, sf_dir):
    from tests.conftest import load
    from sparkval.pipeline.text import (
        source_signature_terms,
        unigram_lm,
        with_unigram_nll,
    )

    docs = load(spark, sf_dir, "documents")
    for out in (
        with_unigram_nll(docs, unigram_lm(docs)),
        source_signature_terms(docs),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan
        # the only nested-loop join allowed is the 1-row scalar broadcast
        assert plan.count("BroadcastNestedLoopJoin") <= 1


# ------------------------------------------------------- retention_cohorts

def test_retention_cohorts_hand_computed(spark):
    from sparkval.pipeline.events import retention_cohorts

    # Mondays: 2024-01-01, 01-08, 01-15. u1 active wk0+wk1, u2 wk0
    # only, u3 joins wk1 and returns wk2.
    rows = [
        ("u1", "2024-01-02 10:00:00"), ("u1", "2024-01-09 10:00:00"),
        ("u2", "2024-01-03 10:00:00"),
        ("u3", "2024-01-10 10:00:00"), ("u3", "2024-01-16 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    got = {
        (r["cohort_week"].isoformat(), r["week_offset"]): (
            r["n_active"], r["cohort_size"], r["retention"]
        )
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2024-01-01T00:00:00", 0): (2, 2, 1.0),
        ("2024-01-01T00:00:00", 1): (1, 2, 0.5),
        ("2024-01-08T00:00:00", 0): (1, 1, 1.0),
        ("2024-01-08T00:00:00", 1): (1, 1, 1.0),
    }


def test_retention_cohorts_week0_always_full(spark, sf_dir):
    from tests.conftest import load
    from sparkval.pipeline.events import retention_cohorts

    ev = load(spark, sf_dir, "events")
    rows = retention_cohorts(ev).collect()
    for r in rows:
        if r["week_offset"] == 0:
            # every cohort member is active in their own first week
            assert r["n_active"] == r["cohort_size"] and r["retention"] == 1.0
        assert 0 < r["n_active"] <= r["cohort_size"]


# ------------------------------------------------------ random_projection

def test_random_projection_one_hot_recovers_matrix_row(spark):
    import math

    from sparkval.pipeline.similarity import random_projection

    # projecting e_i returns row i of the scaled sign matrix
    d, k, seed = 8, 4, 7
    one_hot = [(i, [1.0 if j == i else 0.0 for j in range(d)]) for i in range(d)]
    df = spark.createDataFrame(one_hot, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["projected"] for r in
           random_projection(df, out_dim=k, seed=seed).collect()}
    scale = math.sqrt(3.0 / (2 * k))
    p = 2147483647
    for i in range(d):
        expect = [
            round(
                ((((i * 2654435761 + seed) % p)
                  * ((j * 40503 + 2654435789) % p) % p) % 3 - 1) * scale,
                6,
            )
            for j in range(k)
        ]
        assert got[i] == expect


def test_random_projection_deterministic_and_validated(spark, sf_dir):
    import pytest as _pytest

    from tests.conftest import load
    from sparkval.pipeline.similarity import random_projection

    emb = load(spark, sf_dir, "embeddings").limit(50)
    a = random_projection(emb, out_dim=16).orderBy("vec_id").collect()
    b = random_projection(emb, out_dim=16).orderBy("vec_id").collect()
    assert [r["projected"] for r in a] == [r["projected"] for r in b]
    assert len(a[0]["projected"]) == 16
    with _pytest.raises(ValueError):
        random_projection(emb, out_dim=0)


def test_random_projection_preserves_norms_in_aggregate(spark, sf_dir):
    import numpy as np

    from tests.conftest import load
    from sparkval.pipeline.similarity import random_projection

    emb = load(spark, sf_dir, "embeddings").limit(200)
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    proj = {r["vec_id"]: np.array(r["projected"])
            for r in random_projection(emb, out_dim=16).collect()}
    ratios = [
        np.linalg.norm(proj[i]) / max(np.linalg.norm(orig[i]), 1e-12)
        for i in orig
    ]
    # JL with unit-variance entries: squared-norm ratio concentrates
    # around 1; the MEAN over 200 vectors must be close even though
    # individual vectors can deviate
    assert 0.8 < float(np.mean(np.square(ratios))) < 1.25


def test_retention_and_projection_plan_discipline(spark, sf_dir):
    from tests.conftest import load
    from sparkval.pipeline.events import retention_cohorts
    from sparkval.pipeline.similarity import random_projection

    ev = load(spark, sf_dir, "events")
    plan = retention_cohorts(ev)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan

    emb = load(spark, sf_dir, "embeddings")
    pplan = (
        random_projection(emb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in pplan
    assert "MapInArrow" in pplan
    assert "Exchange" not in pplan  # projection is a pure scan-side map


def test_random_projection_matrix_is_full_rank():
    # regression: the first closed form ((i*37 + j*211 + s) % 3) - 1
    # factored through (i + j) mod 3 -> rank 2, collapsing distinct
    # embeddings onto identical projections. The multiplicative
    # mod-prime form must stay full column rank at every shape we use.
    import numpy as np

    p = 2147483647
    for d, k in [(8, 4), (64, 16), (256, 32)]:
        i = np.arange(d, dtype=np.int64)[:, None]
        j = np.arange(k, dtype=np.int64)[None, :]
        a = (i * 2654435761 + 7) % p
        b = (j * 40503 + 2654435789) % p
        R = (((a * b) % p) % 3) - 1
        assert np.linalg.matrix_rank(R) == k, (d, k)


def test_random_projection_distinct_vectors_stay_distinct(spark):
    # the rank-2 bug's concrete failure: x and x + (e1 - e4) projected
    # to the SAME vector. Pin that sparse differences survive.
    from sparkval.pipeline.similarity import random_projection

    base = [0.0] * 64
    bumped = list(base)
    bumped[1], bumped[4] = 1.0, -1.0
    df = spark.createDataFrame(
        [(1, base), (2, [a + b_ for a, b_ in zip(base, bumped)])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["projected"] for r in
            random_projection(df, out_dim=16).collect()}
    assert rows[1] != rows[2]


def test_corpus_diff_sentinel_literal_content_is_changed(spark):
    # regression: content equal to a would-be NULL sentinel must not
    # classify as unchanged vs an actual NULL (injective fingerprint)
    prev = _docs(spark, [(1, None), (2, "x\x1f")])
    cur = _docs(spark, [(1, "\x00"), (2, "x")])
    got = {r["doc_id"]: r["status"] for r in corpus_diff(cur, prev).collect()}
    assert got == {1: "changed", 2: "changed"}


# ------------------------------------------------------------- mad_outliers

def test_mad_outliers_hand_computed(spark):
    from sparkval.stats import mad_outliers

    # group g: values 1..9 plus an outlier 100. median=5.5, deviations
    # {4.5,3.5,2.5,1.5,.5,.5,1.5,2.5,3.5,94.5} -> MAD=2.5;
    # threshold 3.5*1.4826*2.5 = 12.97 -> only 100 flags
    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 100.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = mad_outliers(df, "value", "grp").collect()
    flagged = sorted(r["value"] for r in out if r["is_outlier"])
    assert flagged == [100.0]
    assert out[0]["group_median"] == 5.5


def test_mad_outliers_degenerate_mad_zero(spark):
    from sparkval.stats import mad_outliers

    # >=50% identical values -> MAD 0 -> every value != median flags
    # (the documented MAD-rule degeneracy)
    rows = [("g", 5.0)] * 6 + [("g", 5.1), ("g", 4.9)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = mad_outliers(df, "value", "grp").collect()
    assert sum(r["is_outlier"] for r in out) == 2


# --------------------------------------------------------------- psi_report

def test_psi_zero_for_identical_distributions(spark):
    from sparkval.stats import psi_report

    df = spark.createDataFrame(
        [(float(v),) for v in range(100)], "value double"
    )
    [r] = psi_report(df, df, "value", lo=0.0, hi=100.0, n_bins=10).collect()
    assert r["psi"] == 0.0 and r["n_current"] == r["n_reference"] == 100


def test_psi_positive_for_shifted_distribution(spark):
    from sparkval.stats import psi_report

    ref = spark.createDataFrame([(float(v),) for v in range(100)], "value double")
    cur = ref.select((F.col("value") + 40.0).alias("value"))
    [r] = psi_report(cur, ref, "value", lo=0.0, hi=100.0, n_bins=10).collect()
    assert r["psi"] > 0.25  # a 40% shift is an action-threshold drift


def test_psi_clamps_out_of_range_values_to_edge_bins(spark):
    from sparkval.stats import psi_report

    ref = spark.createDataFrame([(-5.0,), (105.0,)], "value double")
    [r] = psi_report(ref, ref, "value", lo=0.0, hi=100.0, n_bins=10).collect()
    assert r["psi"] == 0.0 and r["n_reference"] == 2


def test_psi_validates_params(spark):
    from sparkval.stats import psi_report

    df = spark.createDataFrame([(1.0,)], "value double")
    with pytest.raises(ValueError):
        psi_report(df, df, "value", lo=1.0, hi=1.0)
    with pytest.raises(ValueError):
        psi_report(df, df, "value", lo=0.0, hi=1.0, n_bins=0)


# ---------------------------------------------------------- count-min sketch

def test_countmin_kernel_overestimates_never_under():
    import numpy as np

    from sparkval import countmin as cm

    rng_terms = [f"t{i}" for i in range(500)]
    counts = [(i % 17) + 1 for i in range(500)]
    sk = cm.update(cm.empty_sketch(), rng_terms, counts)
    for t, n in zip(rng_terms, counts):
        assert cm.estimate(sk, t) >= n


def test_countmin_merge_equals_combined_build():
    from sparkval import countmin as cm

    a = cm.update(cm.empty_sketch(), ["x", "y"], [3, 4])
    b = cm.update(cm.empty_sketch(), ["y", "z"], [1, 9])
    both = cm.update(cm.empty_sketch(), ["x", "y", "z"], [3, 5, 9])
    assert (cm.merge([a, b]) == both).all()


def test_countmin_expr_matches_python_kernel(spark):
    from sparkval import countmin as cm
    from sparkval.stats import countmin_estimate_expr

    terms = ["alpha", "beta", "gamma", "的", "x" * 50]
    sk = cm.update(cm.empty_sketch(), terms, [10, 20, 30, 40, 50])
    df = spark.createDataFrame(
        [(t, [int(v) for v in sk]) for t in terms + ["absent"]],
        "term string, sketch array<long>",
    )
    got = {
        r["term"]: r["est"]
        for r in df.select(
            "term", countmin_estimate_expr("term").alias("est")
        ).collect()
    }
    for t in terms + ["absent"]:
        assert got[t] == cm.estimate(sk, t), t


def test_stream_heavy_hitters_monoid_equals_batch(spark, tmp_path):
    from sparkval import countmin as cm
    from sparkval.stats import merge_countmin
    from sparkval.streaming import stream_heavy_hitters

    rows = [("g", "a")] * 7 + [("g", "b")] * 4 + [("g", "c")] * 1
    df = spark.createDataFrame(rows, "lang string, term string")
    src = str(tmp_path / "src")
    df.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_heavy_hitters(stream, "term", out, ckpt, ["lang"])
    q.awaitTermination()

    log = spark.read.parquet(out)
    assert log.select("batch_id").distinct().count() == 2
    [merged] = merge_countmin(log.drop("batch_id"), []).collect()
    direct = cm.update(cm.empty_sketch(), ["a", "b", "c"], [7, 4, 1])
    assert list(merged["sketch"]) == [int(v) for v in direct]
    assert merged["n_values"] == 12

    # at-least-once replay: re-running the SAME batches against the
    # same log (fresh checkpoint simulates a retry) must not duplicate
    # sketch rows — dynamic partition overwrite keeps one copy per
    # batch_id, so the merged totals are unchanged
    n_before = log.count()
    q2 = stream_heavy_hitters(
        stream, "term", out, str(tmp_path / "ckpt2"), ["lang"]
    )
    q2.awaitTermination()
    # fresh read: the replay OVERWROTE the batch partitions in place,
    # so the pre-replay DataFrame's file listing is stale by design
    log2 = spark.read.parquet(out)
    assert log2.count() == n_before
    [merged2] = merge_countmin(log2.drop("batch_id"), []).collect()
    assert merged2["n_values"] == 12


def test_bloom_kernel_membership_merge_and_fp_accounting():
    import numpy as np

    from sparkval import bloom

    f = bloom.empty_filter()
    bloom.add(f, ["alpha", "beta", "gamma"])
    assert all(bloom.contains(f, t) for t in ["alpha", "beta", "gamma"])
    assert not bloom.contains(f, "never-added-1")
    assert 0 < bloom.fill_ratio(f) <= 12 / bloom.M_BITS

    # merge == union: a term added to either side is in the merge
    g = bloom.empty_filter()
    bloom.add(g, ["delta"])
    m = bloom.merge([f, g])
    assert all(bloom.contains(m, t) for t in ["alpha", "beta", "gamma", "delta"])
    fx = bloom.empty_filter()
    bloom.add(fx, ["alpha", "beta", "gamma", "delta"])
    assert np.array_equal(m, fx)  # OR of parts == filter of the union

    # no false negatives EVER, even fully saturated; tiny filter
    # forces false positives, which is the accounted failure mode
    tiny = bloom.empty_filter(64)
    bloom.add(tiny, [f"t{i}" for i in range(50)], m_bits=64)
    assert all(bloom.contains(tiny, f"t{i}", m_bits=64) for i in range(50))
    assert any(bloom.contains(tiny, f"u{i}", m_bits=64) for i in range(20))

    with pytest.raises(ValueError):
        bloom.empty_filter(100)


def test_bloom_contains_expr_matches_kernel(spark):
    import pandas as pd

    from sparkval import bloom
    from sparkval.stats import bloom_h0_contains_expr, bloom_h0_expr

    vocab = [f"word-{i}" for i in range(64)]
    f = bloom.add(bloom.empty_filter(), vocab)
    probes = vocab + [f"miss-{i}" for i in range(64)]
    got = (
        spark.createDataFrame([(t,) for t in probes], "term string")
        .crossJoin(
            F.broadcast(spark.createDataFrame(pd.DataFrame([{"filter": f}])))
        )
        .withColumn("member", bloom_h0_contains_expr(bloom_h0_expr("term")))
        .toPandas()
    )
    for term, member in zip(got["term"], got["member"]):
        assert member == bloom.contains(f, term), term


def test_sketch_probes_over_int_terms_agree_with_build(spark):
    """Count-min and Bloom probes over a non-string term column hash
    its string form, as the build side does (ADVICE: int -> binary
    raised AnalysisException under ANSI)."""
    from sparkval.stats import (
        bloom_filters,
        bloom_h0_contains_expr,
        bloom_h0_expr,
        countmin_estimate_expr,
        countmin_sketches,
    )

    df = spark.createDataFrame([("g", i % 37) for i in range(500)], "lang string, term int")
    exact = df.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("exact"))
    got = (
        exact.join(countmin_sketches(df, "term", ["lang"]).select("lang", "sketch"), "lang")
        .join(bloom_filters(df, "term", ["lang"]).select("lang", "filter"), "lang")
        .select(
            "exact",
            countmin_estimate_expr("term").alias("est"),
            bloom_h0_contains_expr(bloom_h0_expr("term")).alias("member"),
        )
        .collect()
    )
    assert len(got) == 37
    assert all(r["est"] >= r["exact"] for r in got)
    assert all(r["member"] for r in got)


def test_bloom_decontaminate_planted(spark):
    from sparkval.pipeline.dedup import bloom_decontaminate

    w = lambda pfx, n: " ".join(f"{pfx}{i}" for i in range(n))
    bench = spark.createDataFrame(
        [(100, w("b", 20)), (101, w("c", 15))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, w("x", 20)),                        # clean
            (2, w("b", 13)),                        # verbatim bench 13-gram
            (3, w("y", 10)),                        # < 13 tokens: excluded
            (4, w("z", 14) + " " + w("b", 13)),     # bench gram mid-doc
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in bloom_decontaminate(corpus, bench).collect()
    }
    assert set(rows) == {1, 2, 4}
    assert rows[1]["bloom_hits"] == 0 and not rows[1]["contaminated"]
    assert rows[2]["n_grams"] == 1 and rows[2]["exact_hits"] == 1
    assert rows[4]["contaminated"] and rows[4]["exact_hits"] == 1
    # the filter never false-negatives: every exact hit was bloom-flagged
    for r in rows.values():
        assert r["bloom_hits"] >= r["exact_hits"]


def test_bm25_scores_match_closed_form(spark):
    import math

    from sparkval.pipeline.text import bm25_scores

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "c c c c"), (4, "b b"), (5, "  ")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in bm25_scores(docs, ["a", "c"]).collect()
    }
    # doc 4 matches nothing, doc 5 is blank: excluded
    assert set(got) == {1, 2, 3}
    n, avgdl, k1, b = 3, 3.0, 1.2, 0.75  # docs 1-3 (blank excluded from N? no:
    # N counts non-blank docs = 4 (doc 4 included), avgdl over 1-4
    n, avgdl = 4, (3 + 2 + 4 + 2) / 4

    def bm25(tf, dl, df):
        if tf == 0:
            return 0.0
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    expect = {
        1: bm25(2, 3, 1) + bm25(0, 3, 2),
        2: bm25(0, 2, 1) + bm25(1, 2, 2),
        3: bm25(0, 4, 1) + bm25(4, 4, 2),
    }
    for doc_id, row in got.items():
        assert abs(row["score"] - expect[doc_id]) < 1e-12, doc_id
    assert got[1]["matched_terms"] == 1 and got[2]["matched_terms"] == 1

    with pytest.raises(ValueError):
        bm25_scores(docs, [])
    with pytest.raises(ValueError):
        bm25_scores(docs, ["a", "a"])


def test_contamination_spans_island_merge(spark):
    from sparkval.pipeline.dedup import contamination_spans

    w = lambda pfx, a, b: " ".join(f"{pfx}{i}" for i in range(a, b))
    bench = spark.createDataFrame(
        [(100, w("b", 0, 40))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # b0..b14, gap, b20..b34: two islands [0,15) and [20,35)
            (1, w("b", 0, 15) + " " + w("f", 0, 5) + " " + w("b", 20, 35)),
            # overlapping anchors merge: b0..b25 is one island [0,26)
            (2, w("b", 0, 26)),
            (3, w("x", 0, 20)),  # clean: no spans
        ],
        "doc_id long, text string",
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"], r["n_words"])
        for r in contamination_spans(corpus, bench, n=13).collect()
    )
    assert spans == [(1, 0, 15, 15), (1, 20, 35, 15), (2, 0, 26, 26)]


def test_embedding_stats_matches_numpy(spark):
    import numpy as np

    from sparkval.pipeline.similarity import embedding_stats

    rng = np.random.default_rng(7)
    m = rng.normal(size=(40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(m)],
        "vec_id long, embedding array<float>",
    )
    got = embedding_stats(df).orderBy("dim").toPandas()
    md = m.astype(np.float64)
    assert np.allclose(got["mean_v"], md.mean(axis=0), atol=1e-12)
    assert np.allclose(got["std_v"], md.std(axis=0), atol=1e-9)
    expect_aniso = float(
        np.linalg.norm(md.mean(axis=0)) / np.linalg.norm(md, axis=1).mean()
    )
    assert np.allclose(got["anisotropy"], expect_aniso, atol=1e-12)
    assert list(got["dim"]) == list(range(8))

    # collapse detector: identical vectors -> anisotropy == 1
    one = spark.createDataFrame(
        [(i, [1.0, 2.0, 2.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    aniso = embedding_stats(one).collect()[0]["anisotropy"]
    assert abs(aniso - 1.0) < 1e-12


def test_pmi_bigrams_closed_form(spark):
    import math

    from sparkval.pipeline.text import pmi_bigrams

    # "a b" x3, "a c" x1: N_u = 8, N_b = 4
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c")],
        "doc_id long, text string",
    )
    rows = {
        (r["x"], r["y"]): r
        for r in pmi_bigrams(docs, min_count=1).collect()
    }
    assert set(rows) == {("a", "b"), ("a", "c")}
    nu, nb = 8, 4
    exp_ab = math.log((3 / nb) / ((4 / nu) * (3 / nu)))
    exp_ac = math.log((1 / nb) / ((4 / nu) * (1 / nu)))
    assert abs(rows[("a", "b")]["pmi"] - exp_ab) < 1e-12
    assert abs(rows[("a", "c")]["pmi"] - exp_ac) < 1e-12
    assert rows[("a", "b")]["n_xy"] == 3

    # min_count filters but totals stay corpus-wide
    only_ab = pmi_bigrams(docs, min_count=2).collect()
    assert len(only_ab) == 1
    assert abs(only_ab[0]["pmi"] - exp_ab) < 1e-12


def test_temperature_mixture_shares(spark):
    from sparkval.pipeline.sampling import temperature_mixture

    docs = spark.createDataFrame(
        [("big", "w " * 90), ("small", "w " * 10)],
        "source string, text string",
    )
    rows = {
        r["source"]: r
        for r in temperature_mixture(
            docs, "source", temperature=0.5, budget_tokens=1000
        ).collect()
    }
    w_big, w_small = 90 ** 0.5, 10 ** 0.5
    tw = w_big + w_small
    assert abs(rows["big"]["raw_share"] - 0.9) < 1e-12
    assert abs(rows["big"]["temp_share"] - w_big / tw) < 1e-12
    # temperature upweights the small source
    assert rows["small"]["sample_factor"] > 1 > rows["big"]["sample_factor"]
    assert abs(rows["small"]["target_tokens"] - 1000 * w_small / tw) < 1e-9
    assert abs(
        rows["small"]["epochs"] - rows["small"]["target_tokens"] / 10
    ) < 1e-12

    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_mixture(docs, "source", temperature=0.0)


def test_cut_spans_applies_and_passes_through(spark):
    from sparkval.pipeline.dedup import cut_spans, duplicated_spans

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y z"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 1, 3), (1, 4, 5)],
        "doc_id long, span_start long, span_end long",
    )
    out = {r["doc_id"]: r for r in cut_spans(docs, spans).collect()}
    assert out[1]["text_clean"] == "a d f"
    assert out[1]["n_removed"] == 3 and out[1]["n_words"] == 6
    assert out[2]["text_clean"] == "x y z" and out[2]["n_removed"] == 0
    assert out[3]["n_words"] == 0 and out[3]["text_clean"] == ""
    assert out[4]["n_words"] == 0

    # composition: detect-then-cut removes a planted shared passage.
    # the shared span includes lowercase-'tail' (it sits inside a
    # shared 13-gram: p3..p14 tail), so the maximal cut is [0, 16)
    # and only the truly distinct last word survives — original case
    passage = " ".join(f"p{i}" for i in range(15))
    docs2 = spark.createDataFrame(
        [(1, passage + " Tail One"), (2, passage + " Tail Two")],
        "doc_id long, text string",
    )
    cleaned = {
        r["doc_id"]: r
        for r in cut_spans(docs2, duplicated_spans(docs2, n=13)).collect()
    }
    assert cleaned[1]["text_clean"] == "One"
    assert cleaned[2]["text_clean"] == "Two"
    assert cleaned[1]["n_removed"] == 16


def test_encoding_stats_flags(spark):
    from sparkval.pipeline.text import with_encoding_stats

    rows = [
        (1, "clean text here"),
        (2, "bad � char"),
        (3, "moji Ã© pair"),
        (4, "ctrl \x07 bell \x9f x"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_encoding_stats(df).collect()}
    assert out[1]["encoding_clean"] and out[5]["encoding_clean"]
    assert out[2]["n_replacement_chars"] == 1 and not out[2]["encoding_clean"]
    assert out[3]["n_mojibake_pairs"] == 1 and not out[3]["encoding_clean"]
    assert out[4]["n_control_chars"] == 2 and not out[4]["encoding_clean"]
    # tab/newline/CR are NOT damage
    ok = with_encoding_stats(
        spark.createDataFrame([(9, "a\tb\nc\rd")], "doc_id long, text string")
    ).collect()[0]
    assert ok["encoding_clean"] and ok["n_control_chars"] == 0


def _jaccard_estimate(a, b, k: int = 256) -> float:
    """KMV Jaccard oracle: |X ∩ A ∩ B| / |X| with X = the k smallest of
    the hash union (what stats.kmv_jaccard_expr computes as codegen)."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    b = np.asarray(b, dtype=np.int64)
    x = np.unique(np.concatenate([a, b]))[:k]
    if len(x) == 0:
        return 0.0
    return float(len(np.intersect1d(np.intersect1d(x, a), b))) / float(len(x))


def test_kmv_kernel_monoid_and_estimates():
    import numpy as np

    from sparkval import kmv

    vals = [f"v{i}" for i in range(1000)]
    direct = kmv.sketch_of(vals, k=64)
    assert len(direct) == 64 and np.all(np.diff(direct) > 0)
    # merge of arbitrary parts == direct sketch of the union; idempotent
    parts = [kmv.sketch_of(vals[i::3], k=64) for i in range(3)]
    assert np.array_equal(kmv.merge(parts, k=64), direct)
    assert np.array_equal(kmv.merge([direct, direct], k=64), direct)

    # exact below saturation
    small = kmv.sketch_of(vals[:40], k=64)
    assert kmv.distinct_estimate(small, k=64) == 40.0
    # at saturation the estimator lands near the truth (k=256 -> ~6% se)
    big = kmv.sketch_of([f"x{i}" for i in range(5000)], k=256)
    est = kmv.distinct_estimate(big, k=256)
    assert abs(est - 5000) / 5000 < 0.25

    # jaccard: identical sets estimate exactly 1; disjoint near 0
    a = kmv.sketch_of(vals, k=256)
    assert _jaccard_estimate(a, a, k=256) == 1.0
    b = kmv.sketch_of([f"y{i}" for i in range(1000)], k=256)
    assert _jaccard_estimate(a, b, k=256) < 0.05
    # 50% true overlap estimates within sketch error
    c = kmv.sketch_of(vals[:500] + [f"z{i}" for i in range(500)], k=256)
    assert abs(_jaccard_estimate(a, c, k=256) - 1 / 3) < 0.15


def test_kmv_overlap_matches_kernel(spark):
    from sparkval import kmv
    from sparkval.stats import kmv_overlap, kmv_sketches

    rows = [("a", f"v{i}") for i in range(300)] + [
        ("b", f"v{i}") for i in range(150, 450)
    ]
    df = spark.createDataFrame(rows, "src string, val string")
    ka = kmv.sketch_of([f"v{i}" for i in range(300)])
    kb = kmv.sketch_of([f"v{i}" for i in range(150, 450)])

    [pair] = kmv_overlap(kmv_sketches(df, "val", ["src"]), "src").collect()
    assert pair["group_a"] == "a" and pair["group_b"] == "b"
    assert pair["est_jaccard"] == _jaccard_estimate(ka, kb)
    assert pair["est_distinct_a"] == kmv.distinct_estimate(ka)
    # 300 distinct, k=256: saturated estimator path on both engines;
    # true jaccard 150/450 = 1/3
    assert abs(pair["est_jaccard"] - 1 / 3) < 0.15
    assert abs(pair["est_distinct_a"] - 300) / 300 < 0.25


def _sketch_family(name):
    """(build, rollup, sketch column, kernel over a value list, has
    n_values) for one hashing sketch family."""
    from collections import Counter

    from sparkval import bloom, countmin as cm, kmv
    from sparkval import stats

    def countmin_of(vals):
        c = Counter(vals)
        return cm.update(cm.empty_sketch(), list(c), list(c.values()))

    return {
        "countmin": (stats.countmin_sketches, stats.merge_countmin, "sketch",
                     countmin_of, True),
        "bloom": (stats.bloom_filters, stats.merge_bloom, "filter",
                  lambda vals: bloom.add(bloom.empty_filter(), sorted(set(vals))),
                  True),
        "kmv": (stats.kmv_sketches, stats.merge_kmv, "sketch",
                lambda vals: kmv.sketch_of(sorted(set(vals))), False),
    }[name]


@pytest.mark.parametrize(
    "family,batch_rows",
    [(f, None) for f in ("countmin", "bloom", "kmv")]
    + [(f, 4) for f in ("countmin", "bloom", "kmv")],
    ids=["countmin", "bloom", "kmv", "countmin-batch4", "bloom-batch4", "kmv-batch4"],
)
def test_sketch_family_build_and_rollup(spark, family, batch_rows):
    """A (lang, source) build rolled up to lang and to global equals a
    direct build at each level, every sketch equals the kernel over
    its group's non-NULL values, and NULL group keys survive build and
    rollup as groups of their own. With ``batch_rows`` set as
    spark.sql.execution.arrow.maxRecordsPerBatch, each task folds many
    batches, several of them holding NULL keys."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    if batch_rows is not None:
        spark.conf.set(key, str(batch_rows))
    try:
        _check_sketch_family(spark, family)
    finally:
        spark.conf.set(key, prev)


def _check_sketch_family(spark, family):
    build, rollup, col, kernel, counted = _sketch_family(family)
    rows = (
        [("en", "web", "a")] * 5 + [("en", "web", "b")] * 2
        + [("en", "wiki", "a")] * 3 + [("en", "wiki", None)]
        + [("de", "web", "c"), ("de", "web", "a"), ("de", None, "d")]
        + [(None, "web", "n1"), (None, "wiki", "n2"), (None, None, "n3")]
        + [("fr", "web", None)]  # all-NULL values: the empty sketch
        # 300 distinct values saturate KMV's k=256
        + [("en", "web", f"v{i}") for i in range(300)]
    )
    df = spark.createDataFrame(rows, "lang string, source string, term string")

    def truth(keys):
        groups = {}
        for lang, source, term in rows:
            vals = groups.setdefault(
                tuple({"lang": lang, "source": source}[c] for c in keys), []
            )
            if term is not None:
                vals.append(term)
        return groups

    def by_key(sk, keys):
        return {tuple(r[c] for c in keys): r for r in sk.collect()}

    fine = build(df, "term", ["lang", "source"])
    levels = {
        ("lang", "source"): fine,
        ("lang",): rollup(fine, ["lang"]),
        (): rollup(fine, []),
    }
    for keys, sk in levels.items():
        got, want = by_key(sk, keys), truth(keys)
        assert set(got) == set(want), keys  # NULL-key groups included
        for k, vals in want.items():
            assert list(got[k][col]) == [int(v) for v in kernel(vals)], (keys, k)
            if counted:
                assert got[k]["n_values"] == len(vals), (keys, k)  # nulls dropped
    direct = by_key(build(df, "term", ["lang"]), ["lang"])
    rolled = by_key(levels[("lang",)], ["lang"])
    assert {k: list(r[col]) for k, r in direct.items()} == {
        k: list(r[col]) for k, r in rolled.items()
    }
    with pytest.raises(ValueError):
        build(df, "term", [])

def test_bloom_decontaminate_empty_benchmark_reports_all_clean(spark):
    from sparkval.pipeline.dedup import bloom_decontaminate

    w = lambda pfx, n: " ".join(f"{pfx}{i}" for i in range(n))
    corpus = spark.createDataFrame(
        [(1, w("x", 20)), (2, w("y", 15))], "doc_id long, text string"
    )
    # benchmark docs all shorter than n=13: zero grams, but the report
    # must still cover every corpus doc (review fix: zero-identity seed)
    bench = spark.createDataFrame([(9, "too short")], "doc_id long, text string")
    rows = {r["doc_id"]: r for r in bloom_decontaminate(corpus, bench).collect()}
    assert set(rows) == {1, 2}
    for r in rows.values():
        assert r["bloom_hits"] == 0 and r["exact_hits"] == 0
        assert not r["contaminated"]


def test_bm25_cased_query_terms_are_normalized(spark):
    from sparkval.pipeline.text import bm25_scores

    docs = spark.createDataFrame(
        [(1, "Vector search rocks")], "doc_id long, text string"
    )
    [r] = bm25_scores(docs, ["Vector"]).collect()
    assert r["matched_terms"] == 1 and r["score"] > 0
    with pytest.raises(ValueError):
        bm25_scores(docs, ["Vector", "vector"])  # dup after lowering


def test_temperature_mixture_zero_token_source_defined(spark):
    from sparkval.pipeline.sampling import temperature_mixture

    docs = spark.createDataFrame(
        [("live", "w w w w"), ("dead", ""), ("dead", None)],
        "source string, text string",
    )
    rows = {
        r["source"]: r
        for r in temperature_mixture(
            docs, "source", temperature=0.5, budget_tokens=100
        ).collect()
    }
    d = rows["dead"]
    assert d["n_tokens"] == 0
    assert d["raw_share"] == 0.0 and d["temp_share"] == 0.0
    assert d["sample_factor"] == 0.0 and d["epochs"] == 0.0  # not NULL
    assert rows["live"]["temp_share"] == 1.0


def test_boilerplate_lines_strips_hot_lines_keeps_body(spark):
    from sparkval.pipeline.text import boilerplate_lines

    nav = "NAV | HOME | ABOUT"
    docs = spark.createDataFrame(
        [
            (1, nav + "\nunique body one\n\n  " + nav),
            (2, nav + "\nunique body two"),
            (3, nav + "\nunique body three"),
            (4, "no boilerplate here"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_lines(docs, min_doc_frac=0.5, min_docs=2).collect()
    }
    # nav appears in 3/5 docs (>= ceil(0.5*5)=3): removed EVERYWHERE,
    # including doc 1's second occurrence; empty lines are dropped
    assert out[1]["text_clean"] == "unique body one"
    assert out[1]["n_lines"] == 3 and out[1]["n_boilerplate_removed"] == 2
    assert out[2]["text_clean"] == "unique body two"
    assert out[4]["text_clean"] == "no boilerplate here"
    assert out[4]["n_boilerplate_removed"] == 0
    assert out[5]["n_lines"] == 0 and out[5]["text_clean"] == ""

    # below-threshold lines survive: with min_doc_frac=1.0 nav stays
    keep = {
        r["doc_id"]: r
        for r in boilerplate_lines(docs, min_doc_frac=1.0, min_docs=4).collect()
    }
    assert keep[2]["text_clean"] == nav + "\nunique body two"


def test_skew_report_ranks_and_salt_suggestion(spark):
    from sparkval.stats import skew_report

    rows = [(0,)] * 60 + [(i,) for i in range(1, 41)]  # key 0 = 60%
    df = spark.createDataFrame(rows, "key long")
    out = skew_report(df, ["key"], n_top=3, n_partitions=10).collect()
    assert [r["rank"] for r in out] == [1, 2, 3]
    top = out[0]
    assert top["key"] == 0 and top["n_rows"] == 60
    assert top["key_share"] == 0.6 and top["total_rows"] == 100
    assert top["n_keys"] == 41
    # hottest key at 60% over 10 partitions -> 6 salt buckets
    assert top["suggested_salt_buckets"] == 6
    # ties rank deterministically by key asc
    assert out[1]["key"] == 1 and out[2]["key"] == 2

    # uniform keys need no salting
    uni = spark.createDataFrame([(i % 5,) for i in range(100)], "key long")
    r = skew_report(uni, ["key"], n_top=1, n_partitions=5).collect()[0]
    assert r["suggested_salt_buckets"] == 1

    import pytest as _pt

    with _pt.raises(ValueError):
        skew_report(df, [])


def test_zipf_fit_recovers_planted_alpha(spark):
    import numpy as np

    from sparkval.stats import zipf_fit

    # corpus with term i repeated round(1000 / i^0.8) times: the fit
    # over an exact power law must recover alpha ~ 0.8 with r2 ~ 1
    rows = []
    for i in range(1, 41):
        reps = int(round(1000 / i ** 0.8))
        rows.append((" ".join([f"t{i:02d}"] * reps),))
    df = spark.createDataFrame(rows, "text string")
    [r] = zipf_fit(df, n_ranks=40).collect()
    assert r["n_terms_fit"] == 40 and r["vocab_size"] == 40
    assert abs(r["alpha"] - 0.8) < 0.02
    assert r["r2"] > 0.999

    # numpy cross-check of the closed forms on the same counts
    n = np.array([int(round(1000 / i ** 0.8)) for i in range(1, 41)])
    x, y = np.log(np.arange(1, 41, dtype=float)), np.log(n.astype(float))
    slope = np.polyfit(x, y, 1)[0]
    assert abs(r["alpha"] - (-slope)) < 1e-9


def test_stream_contamination_gate_matches_batch(spark, tmp_path):
    from sparkval.pipeline.dedup import bloom_decontaminate, bloom_gram_filter
    from sparkval.streaming import stream_contamination_gate

    w = lambda pfx, a, b: " ".join(f"{pfx}{i}" for i in range(a, b))
    bench = spark.createDataFrame(
        [(100, w("b", 0, 20))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, w("x", 0, 20)),
            (2, w("b", 0, 13)),      # verbatim bench gram: flagged
            (3, w("y", 0, 5)),       # short: cannot be flagged
            (4, w("b", 3, 17)),      # 14 bench tokens: flagged
        ],
        "doc_id long, text string",
    )
    filt = bloom_gram_filter(bench)
    src, out, ckpt = (str(tmp_path / p) for p in ("src", "out", "ckpt"))
    corpus.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_contamination_gate(stream, filt, out, ckpt)
    q.awaitTermination()
    log = spark.read.parquet(out)
    totals = log.groupBy().sum("n_docs", "n_flagged").collect()[0]
    assert totals["sum(n_docs)"] == 4
    # stream flag total == batch bloom_hits>0 count, by construction
    batch = bloom_decontaminate(corpus, bench)
    n_batch_flagged = batch.filter(F.col("bloom_hits") > 0).count()
    assert totals["sum(n_flagged)"] == n_batch_flagged == 2


def test_apply_mixture_deterministic_copies(spark):
    import hashlib

    from sparkval.pipeline.sampling import apply_mixture

    docs = spark.createDataFrame(
        [(i, "big") for i in range(100)] + [(i, "small") for i in range(100, 140)],
        "doc_id long, source string",
    )
    factors = spark.createDataFrame(
        [("big", 0.5), ("small", 2.25)], "source string, sample_factor double"
    )
    out = apply_mixture(docs, factors, "source").collect()

    def bucket(i):
        return int(hashlib.sha256(str(i).encode()).hexdigest()[:4], 16) % 1000

    # big: kept iff bucket < 500, exactly once
    big = [r for r in out if r["source"] == "big"]
    expect_big = {i for i in range(100) if bucket(i) < 500}
    assert {r["doc_id"] for r in big} == expect_big
    assert all(r["copy_idx"] == 1 for r in big)
    # small: 2 copies each + a third iff bucket < 250
    small = {}
    for r in out:
        if r["source"] == "small":
            small.setdefault(r["doc_id"], []).append(r["copy_idx"])
    assert set(small) == set(range(100, 140))  # nobody dropped
    for i, copies in small.items():
        want = 3 if bucket(i) < 250 else 2
        assert sorted(copies) == list(range(1, want + 1)), i

    # repartitioning does not change the mix (hash-keyed determinism)
    again = apply_mixture(docs.repartition(7), factors, "source")
    assert sorted((r["doc_id"], r["copy_idx"]) for r in again.collect()) == sorted(
        (r["doc_id"], r["copy_idx"]) for r in out
    )


def test_winsorize_clips_iff_mad_flags(spark):
    from sparkval.stats import mad_outliers, winsorize

    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 100, -50]] + [
        ("b", 5.0),
        ("b", 5.0),
        ("b", 5.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    w = {(r["g"], r["v"]): r for r in winsorize(df, "v", "g").collect()}
    flags = {
        (r["g"], r["v"]): r["is_outlier"]
        for r in mad_outliers(df, "v", "g").collect()
    }
    for key, r in w.items():
        assert r["was_clipped"] == flags[key], key
        if r["was_clipped"]:
            assert r["v_winsorized"] in (r["lo_bound"], r["hi_bound"])
        else:
            assert r["v_winsorized"] == key[1]
    # the two planted outliers in group a clip to the bounds; the
    # uniform group b (MAD 0) clips nothing at the median
    assert w[("a", 100.0)]["was_clipped"] and w[("a", -50.0)]["was_clipped"]
    assert not w[("b", 5.0)]["was_clipped"]


# ---------------------------------------------- with_normalized_text

def test_normalize_text_canonicalizes(spark):
    import pandas as pd

    from sparkval.pipeline.text import with_normalized_text

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a\tb\nc",            # controls -> single spaces
                "  lots   of   gap ",  # runs collapse, ends trim
                "cafe\u0301",  # decomposed e + U+0301 -> NFC single codepoint
                "already clean",
            ],
        }
    )
    out = (
        with_normalized_text(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .collect()
    )
    assert out[0]["text_norm"] == "a b c"
    assert out[1]["text_norm"] == "lots of gap"
    assert out[2]["text_norm"] == "caf\u00e9" and out[2]["n_chars_norm"] == 4
    assert out[3]["text_norm"] == "already clean"
    assert [r["was_changed"] for r in out] == [True, True, True, False]


def test_normalize_text_stabilizes_dedup_keys(spark):
    """The point of normalizing: whitespace/NFC variants of one
    document hash to one exact-dup group afterwards."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkval.pipeline.text import with_normalized_text

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["hello  world", "hello\tworld", "hello world"],
        }
    )
    out = with_normalized_text(spark.createDataFrame(pdf))
    n = out.select(F.countDistinct("text_norm")).collect()[0][0]
    assert n == 1


# ---------------------------------------------- seasonal_anomaly

def test_seasonal_anomaly_flags_planted_spike(spark):
    import datetime as dt

    import pandas as pd

    from sparkval.pipeline.events import seasonal_anomaly

    # 14 days x one event at 03:00 ... plus a 30-event burst on day 7
    rows = []
    base = dt.datetime(2024, 1, 1, 3, 0, 0)
    for day in range(14):
        n = 30 if day == 7 else 1
        for i in range(n):
            rows.append(
                {"event_type": "click", "ts": base + dt.timedelta(days=day, seconds=i)}
            )
    out = seasonal_anomaly(
        spark.createDataFrame(pd.DataFrame(rows)), z_threshold=2.5
    ).collect()
    flagged = [r for r in out if r["is_anomaly"]]
    assert len(flagged) == 1
    assert flagged[0]["hour_ts"].day == 8 and flagged[0]["n_events"] == 30
    # quiet hours score near the (spike-inflated) mean but below gate
    quiet = [r for r in out if not r["is_anomaly"]]
    assert all(abs(r["z"]) < 2.5 for r in quiet if r["z"] is not None)


def test_seasonal_anomaly_zero_variance_is_null(spark):
    import datetime as dt

    import pandas as pd

    from sparkval.pipeline.events import seasonal_anomaly

    rows = [
        {"event_type": "x", "ts": dt.datetime(2024, 1, d, 9, 0, 0)}
        for d in range(1, 8)
    ]  # exactly one event every 09:00 -> sd == 0
    out = seasonal_anomaly(spark.createDataFrame(pd.DataFrame(rows))).collect()
    assert all(r["z"] is None and r["is_anomaly"] is False for r in out)
    assert all(r["expected"] == 1.0 for r in out)
