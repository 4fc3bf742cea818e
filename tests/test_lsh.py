"""The shared bucket-local verify (sparkval.pipeline.lsh) through every
LSH family that uses it: minhash, simhash, hyperplane cosine and
bit-sampling cosine."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData

from sparkval.pipeline import dedup, lsh, similarity

_BASE = "the quick brown fox jumps over the lazy dog again and again "


def _docs(spark):
    rows = []
    for i in range(40):
        rows.append((i, _BASE + f"tail {i % 4}"))           # 4 near-dup cliques
        rows.append((1000 + i, _BASE + f"tail {i % 4} !"))  # near copies
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _vecs(spark):
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 64))
    m = centers[np.arange(80) % 4] + rng.normal(scale=0.05, size=(80, 64))
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": range(80), "embedding": list(m.astype(np.float32))})
    )


#: family -> (input builder, pair operator, score column)
FAMILIES = {
    "minhash": (_docs, lambda df: dedup.near_duplicates_minhash(df, threshold=0.5),
                "jaccard_est"),
    "simhash": (_docs, lambda df: dedup.near_duplicates_simhash(df, max_hamming=6),
                "hamming"),
    "cosine": (_vecs, lambda df: similarity.near_duplicates_cosine(df, threshold=0.9),
               "cosine"),
    "bit_lsh": (_vecs, lambda df: similarity.bit_lsh_near_dups(df, threshold=0.9),
                "cosine"),
}


def _pairs(df, score_col):
    return {(r["a"], r["b"]): r[score_col] for r in df.collect()}


@pytest.mark.parametrize("family", list(FAMILIES))
def test_hot_bucket_block_pairs_match_normal_path(spark, monkeypatch, family):
    """The block-pair decomposition for oversized buckets must emit
    EXACTLY the pair set (and scores) of the single-task path: force
    every bucket above 6 members through it (and tile 3 rows at a time)
    by shrinking the caps, and compare against the default run on the
    same input."""
    build, op, col = FAMILIES[family]
    df = build(spark)
    normal = _pairs(op(df), col)
    assert len(normal) >= 20, "fixture must actually produce near-dup pairs"

    monkeypatch.setattr(lsh, "_HOT_BUCKET_CAP", 6)
    monkeypatch.setattr(lsh, "_VERIFY_BLOCK", 3)
    assert _pairs(op(df), col) == normal


def test_grouped_call_bounds_every_group(spark, monkeypatch):
    """What each call of the grouped kernel loads is bounded: a group
    is either one _grp's buckets (none above the cap) or one block pair
    of one hot bucket (<= 2 chunks of <= cap rows). Normal groups keep
    their _grp, so they spread over the groups instead of funnelling
    into one task."""
    grouped = []
    apply = GroupedData.applyInArrow

    def spy(self, func, schema):
        grouped.append(self._df)
        return apply(self, func, schema)

    monkeypatch.setattr(GroupedData, "applyInArrow", spy)
    monkeypatch.setattr(lsh, "_HOT_BUCKET_CAP", 6)
    build, op, _ = FAMILIES["minhash"]
    rng = np.random.default_rng(7)
    words = [f"w{k}" for k in range(500)]
    singles = spark.createDataFrame(  # unrelated docs: small buckets
        [(5000 + i, " ".join(rng.choice(words, 30))) for i in range(40)],
        ["doc_id", "text"],
    )
    op(build(spark).unionByName(singles))
    (keyed,) = grouped
    normal = keyed.filter(F.col("_block").isNull())
    assert normal.filter(F.col("_grp").isNull()).count() == 0
    assert normal.select("_grp").distinct().count() > 1
    biggest = normal.groupBy("band", "bucket").count().agg(F.max("count")).first()[0]
    assert biggest <= 6
    blocks = (
        keyed.filter(F.col("_block").isNotNull())
        .groupBy("_grp", "_block")
        .agg(F.count("*").alias("rows"), F.countDistinct("band", "bucket").alias("buckets"))
        .collect()
    )
    assert blocks, "fixture must have a bucket above the shrunk cap"
    assert all(r["buckets"] == 1 and r["rows"] <= 2 * 6 for r in blocks)


@pytest.mark.parametrize("family", ["minhash", "cosine", "simhash"])
def test_duplicate_id_never_pairs_with_itself(spark, family):
    """An id that appears twice (same or different payload) shares its
    buckets with itself; the verify must not emit an (x, x) pair."""
    build, op, col = FAMILIES[family]
    df = build(spark)
    twice = df.unionByName(df.limit(1))  # one row's id appears twice
    got = _pairs(op(twice), col)
    assert got, "fixture must produce near-dup pairs"
    assert all(a < b for a, b in got), [p for p in got if p[0] >= p[1]]


def test_minhash_materialize_false_runs_no_job(spark):
    """Building the lazy plan runs no Spark action: no probe, no
    checkpoint; the sweep runs inside the caller's single action."""
    sc = spark.sparkContext
    docs = _docs(spark)
    group = "lsh-lazy-plan-build"
    sc.setJobGroup(group, "near_duplicates_minhash plan build")
    try:
        out = dedup.near_duplicates_minhash(docs, threshold=0.5, materialize=False)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out.count() > 0
