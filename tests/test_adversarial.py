"""Adversarial inputs through the dedup kernels: zero, NaN and
duplicate embedding vectors through near_duplicates_cosine
(similarity._normalize, _cosine_scorer), and empty and NULL text
through minhash_signatures and simhash_signatures
(dedup._arrow_shingle_stream)."""

import numpy as np
import pandas as pd
import pytest

from sparkval.pipeline import dedup, similarity

DIM = 64


def _clean(n=60, seed=11):
    """Four tight clusters: plenty of true pairs at cosine 0.9."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(4, DIM))
    return centers[np.arange(n) % 4] + rng.normal(scale=0.05, size=(n, DIM))


def _vec_df(spark, ids, mat):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": list(ids), "embedding": list(mat.astype(np.float32))})
    )


def _pairs(df):
    return {(r["a"], r["b"]): r["cosine"] for r in df.collect()}


def test_cosine_zero_and_nan_vectors_pair_with_nothing(spark):
    """A zero vector has no direction and a NaN vector no value: neither
    pairs with anything (not with each other either), and adding them
    leaves every pair among the clean vectors exactly as it was."""
    clean = _clean()
    nan_one = np.ones(DIM)
    nan_one[7] = np.nan
    bad = np.stack([np.zeros(DIM), np.zeros(DIM), np.full(DIM, np.nan), nan_one])
    bad_ids = [900, 901, 902, 903]

    want = _pairs(similarity.near_duplicates_cosine(
        _vec_df(spark, range(len(clean)), clean), threshold=0.9))
    assert len(want) >= 20, "fixture must produce clean pairs"
    got = _pairs(similarity.near_duplicates_cosine(
        _vec_df(spark, list(range(len(clean))) + bad_ids, np.vstack([clean, bad])),
        threshold=0.9))
    assert not {p for p in got if set(p) & set(bad_ids)}
    assert got == want


def test_cosine_only_degenerate_vectors_yield_no_pairs(spark):
    """Every vector zero or NaN: all land in hyperplane bucket 0 of
    every table, and the verify still emits nothing."""
    bad = np.vstack([np.zeros((5, DIM)), np.full((5, DIM), np.nan)])
    out = similarity.near_duplicates_cosine(_vec_df(spark, range(10), bad), threshold=0.5)
    assert out.count() == 0


def test_cosine_duplicate_vectors_pair_once_at_one(spark):
    """Identical vectors under different ids, and a positive multiple of
    them, pair with each other exactly once (a < b, no self pairs) at
    cosine 1.0, even at threshold 1.0."""
    v = _clean(n=1, seed=3)[0]
    mat = np.stack([v, v, v, 4.0 * v])
    out = similarity.near_duplicates_cosine(_vec_df(spark, [5, 6, 7, 8], mat), threshold=1.0)
    rows = [(r["a"], r["b"], r["cosine"]) for r in out.collect()]
    assert sorted(rows) == [
        (a, b, 1.0) for a in (5, 6, 7, 8) for b in (5, 6, 7, 8) if a < b
    ]


_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "",
    None,
    "ab",
    None,
    "",
    "the quick brown fox jumps over the lazy cat",
]


def _minhash_oracle(text):
    sh = dedup._shingles(text or "", 5, unique=True)
    with np.errstate(over="ignore"):
        return [
            int(((sh * dedup._PERM_A[p] + dedup._PERM_B[p]) % dedup._MINHASH_P).min())
            for p in range(dedup._N_PERM)
        ]


def _simhash_oracle(text):
    sh = dedup._shingles(text or "", 5, unique=True)
    bits = [int(((sh >> np.uint64(j)) & np.uint64(1)).sum()) * 2 > len(sh)
            for j in range(64)]
    return int(np.array(sum(1 << j for j, b in enumerate(bits) if b),
                        dtype=np.uint64).astype(np.int64))


def _text_df(spark, texts, n_parts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: bigint, text: string"
    )
    return df.repartition(n_parts, "doc_id")


@pytest.mark.parametrize("n_parts", [1, 3])
@pytest.mark.parametrize("kind", ["minhash", "simhash"])
def test_signatures_of_empty_and_null_text(spark, kind, n_parts):
    """One signature per row, NULL text treated as the empty string
    (the scalar oracle's ``text or ""``), whether or not a batch holds
    any real text: with 3 partitions some batches are all empty/NULL."""
    if kind == "minhash":
        sigs, col, oracle = dedup.minhash_signatures, "signature", _minhash_oracle
    else:
        sigs, col, oracle = dedup.simhash_signatures, "simhash", _simhash_oracle
    for texts in (_TEXTS, [None, "", None, ""]):
        got = {r["doc_id"]: r[col] for r in sigs(_text_df(spark, texts, n_parts)).collect()}
        assert sorted(got) == list(range(len(texts)))
        for i, t in enumerate(texts):
            assert list(np.atleast_1d(got[i])) == list(np.atleast_1d(oracle(t))), (i, t)
