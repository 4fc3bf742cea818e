"""Round-3 ADVICE regression tests.

1. simhash block LSH: block count derives from max_hamming (the fixed
   4-block layout silently lost pigeonhole recall at max_hamming >= 4),
   out-of-range raises.
2. deterministic_order capped path: rows equal on every atomic column
   but differing in an array column no longer flap across the limit
   boundary (non-atomic hash tiebreak).
3. near_duplicates_minhash materialize=False: lazy plan (the round-3
   bench-regression opt-out); neither mode leaves a cached table
   behind.
"""

import pytest
from pyspark.sql import functions as F


def test_simhash_max_hamming_out_of_range_raises(spark):
    from sparkval.pipeline.dedup import near_duplicates_simhash

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="max_hamming"):
        near_duplicates_simhash(df, max_hamming=16)
    with pytest.raises(ValueError, match="max_hamming"):
        near_duplicates_simhash(df, max_hamming=-1)


def test_simhash_blocks_derived_from_max_hamming(spark):
    """At max_hamming=7 the LSH must use 8 blocks; a pair differing in
    4-7 bit positions spread across the old 4x16 layout (one flipped
    bit per 16-bit block => zero agreeing blocks under 4-block LSH)
    must still surface. We can't plant exact signature bits through
    text, so assert the guarantee structurally: signatures are computed,
    then candidates regenerated at both settings over docs engineered
    to differ moderately — every pair the exact Hamming filter accepts
    at <= max_hamming must appear in the candidate output (recall = 1
    by pigeonhole, whatever the signatures turned out to be)."""
    from sparkval.pipeline.dedup import near_duplicates_simhash, simhash_signatures

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [(i, base + f"suffix {i % 7} tail {'x' * (i % 5)}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(df).collect()}
    for max_h in (3, 7):
        found = {
            (r["a"], r["b"])
            for r in near_duplicates_simhash(df, max_hamming=max_h).collect()
        }
        expected = {
            (a, b)
            for a in sigs
            for b in sigs
            if a < b and bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= max_h
        }
        # pigeonhole recall makes candidates ⊇ expected; the exact
        # hamming filter makes output ⊆ expected — so equality
        assert found == expected, f"max_hamming={max_h}"


def test_simhash_single_block_exact_match(spark):
    """max_hamming=0 -> one 64-bit block (the mask-overflow edge case):
    exact signature equality, byte-identical docs must pair."""
    from sparkval.pipeline.dedup import near_duplicates_simhash

    text = "identical content for the zero hamming case " * 4
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words here " * 4)],
        ["doc_id", "text"],
    )
    found = {(r["a"], r["b"]) for r in near_duplicates_simhash(df, max_hamming=0).collect()}
    assert (1, 2) in found
    assert all(3 not in pair for pair in found)


def test_deterministic_order_cap_ties_broken_by_array_column(spark):
    """Rows identical on every atomic column, distinct array payloads:
    the capped prefix must retain the SAME rows run to run."""
    from sparkval.constraints import deterministic_order

    rows = [("k", i % 3, list(range(i, i + 4))) for i in range(60)]
    df = spark.createDataFrame(rows, ["key", "group", "payload"]).select(
        "key", F.col("group").cast("int").alias("group"), "payload"
    )
    picks = [
        tuple(
            (r["key"], r["group"], tuple(r["payload"]))
            for r in deterministic_order(df, ["key"], max_rows=10).collect()
        )
        for _ in range(3)
    ]
    assert picks[0] == picks[1] == picks[2]
    # and the prefix is genuinely capped
    assert len(picks[0]) == 10


def test_minhash_materialize_false_leaves_cache_to_caller(spark):
    from sparkval.pipeline.dedup import near_duplicates_minhash

    docs = spark.createDataFrame(
        [(i, f"shared shingle stream number {i % 2} " * 8) for i in range(20)],
        ["doc_id", "text"],
    )
    spark.catalog.clearCache()
    jsc = spark._jsparkSession.sharedState().cacheManager()
    out = near_duplicates_minhash(docs, threshold=0.5, materialize=False)
    # lazy: the pair dedup still sits above the bucket-verify sweep — a
    # materialize=True result collapses to a bare scan of checkpointed
    # RDD blocks
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in plan, plan  # the dropDuplicates
    assert out.count() > 0
    # the verify consumes signatures once, in-plan: no cache in either mode
    assert jsc.isEmpty()

    # default path: hygiene unchanged — checkpointed (no lineage) and
    # no cached tables survive
    out2 = near_duplicates_minhash(docs, threshold=0.5)
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan2, plan2
    assert out2.count() > 0
    assert jsc.isEmpty()
