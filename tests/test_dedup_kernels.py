"""Pure-numpy/arrow parity tests for the batch shingle kernels: the
mapInArrow stream must be bit-identical to the scalar _shingles oracle
for every edge shape (empty, null, shorter-than-k, exactly-k, long).
"""

import numpy as np
import pandas as pd
import pyarrow as pa

from sparkval.pipeline import dedup


TEXTS = [
    "hello world this is a test document with enough text",
    "",
    None,
    "ab",
    "xxxx",
    "exact",
    "longer doc with more text " * 3,
    "ünïcødé — 多字节 content ✓",
]


def _batch(texts):
    return pa.record_batch(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )


def test_arrow_shingle_stream_matches_scalar():
    flat, counts = dedup._arrow_shingle_stream(_batch(TEXTS), 1, 5)
    off = np.concatenate(([0], np.cumsum(counts)))
    for i, t in enumerate(TEXTS):
        want = dedup._shingles(t or "", 5, unique=False)
        got = flat[off[i] : off[i + 1]]
        assert np.array_equal(got, want), (i, t)


def test_segmented_unique_matches_np_unique():
    flat, counts = dedup._arrow_shingle_stream(_batch(TEXTS), 1, 5)
    uflat, ucounts = dedup._segmented_unique(flat, counts)
    uoff = np.concatenate(([0], np.cumsum(ucounts)))
    for i, t in enumerate(TEXTS):
        want = dedup._shingles(t or "", 5, unique=True)
        assert np.array_equal(uflat[uoff[i] : uoff[i + 1]], want), (i, t)


def test_arrow_shingle_stream_other_k():
    flat, counts = dedup._arrow_shingle_stream(_batch(TEXTS), 1, 9)
    off = np.concatenate(([0], np.cumsum(counts)))
    for i, t in enumerate(TEXTS):
        want = dedup._shingles(t or "", 9, unique=False)
        assert np.array_equal(flat[off[i] : off[i + 1]], want), (i, t)


# ------------------------------------------------------- bit-sampling LSH

def test_bit_lsh_bands_match_numpy(spark):
    import numpy as np
    import pandas as pd

    from sparkval.pipeline.similarity import bit_lsh_bands

    rng = np.random.default_rng(11)
    m = rng.normal(size=(40, 16)).astype(np.float64)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(40), "embedding": list(m)})
    )
    out = bit_lsh_bands(df, n_bands=4, band_bits=4).toPandas()
    codes = np.stack(
        [(m[:, b * 4:(b + 1) * 4] > 0) @ (1 << np.arange(4)) for b in range(4)],
        axis=1,
    )
    for _, r in out.iterrows():
        assert codes[int(r.vec_id), int(r.band)] == r.bucket
    assert len(out) == 40 * 4


def test_bit_lsh_near_dups_equals_bruteforce_on_candidates(spark):
    """Engine output == {pairs sharing >=1 band} ∩ {cosine >= tau},
    both recomputed in numpy."""
    import numpy as np
    import pandas as pd

    from sparkval.pipeline.similarity import bit_lsh_near_dups

    rng = np.random.default_rng(3)
    base = rng.normal(size=(30, 16))
    noisy = base + rng.normal(scale=0.08, size=base.shape)  # near-dups
    m = np.vstack([base, noisy])
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(60), "embedding": list(m)})
    )
    got = {
        (r["a"], r["b"])
        for r in bit_lsh_near_dups(
            df, threshold=0.9, n_bands=4, band_bits=4
        ).collect()
    }

    codes = np.stack(
        [(m[:, b * 4:(b + 1) * 4] > 0) @ (1 << np.arange(4)) for b in range(4)],
        axis=1,
    )
    norm = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = norm @ norm.T
    want = {
        (a, b)
        for a in range(60)
        for b in range(a + 1, 60)
        if (codes[a] == codes[b]).any() and round(cos[a, b], 9) >= 0.9
    }
    assert got == want
    assert len(want) >= 20  # the construction actually plants pairs


def test_bit_lsh_plan_shape(spark, sf_dir):
    """Band projection stays pure JVM codegen (no per-row or
    expression-level Python), the verify is the vectorized grouped
    Arrow kernel (round 6 — the per-pair candidate join shape did not
    finish at 40k vectors), and no all-pairs operator appears."""
    from tests.conftest import load

    from sparkval.pipeline.similarity import bit_lsh_near_dups

    embs = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = (
        bit_lsh_near_dups(embs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInArrow" in plan  # the bucket-local verify
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bit_lsh_rejects_zero_bands(spark, sf_dir):
    import pytest

    from tests.conftest import load
    from sparkval.pipeline.similarity import bit_lsh_bands

    embs = load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError):
        bit_lsh_bands(embs, n_bands=0)


def test_dedupe_keep_canonical_passes_null_docs_through(spark):
    from sparkval.pipeline.dedup import dedupe_keep_canonical

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["a", None, None, "a"]})
    )
    kept = dedupe_keep_canonical(df).toPandas().sort_values("doc_id")
    # doc 4 is a dup of doc 1; NULL docs 2 and 3 are each unique
    assert kept["doc_id"].tolist() == [1, 2, 3]
    assert kept[kept["doc_id"] == 2]["text"].isna().all()
