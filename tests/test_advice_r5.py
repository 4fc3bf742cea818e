"""Round-5 ADVICE regression tests.

1. connected_components warns (instead of silently returning split
   components) when max_iter is exhausted with labels still moving.
2. validate(single_scan=True) self-releases the PREVIOUS call's fused
   scan cache — direct callers in a long-lived session no longer
   accrete one cached table per call.
3. countmin/bloom/kmv sketch builders cast the value column to string
   (no-op for string inputs), so a non-string column hashes instead of
   crashing the executor, aligned with the codegen estimate chain.
4. Streaming entry queries raise on awaitTermination timeout instead
   of reading a possibly-incomplete sink (asserted structurally: the
   call sites check the boolean — covered by the entry queries running
   green in the oracle harness; no fixture can force a 300 s hang
   cheaply).
"""

import warnings

import pytest
from pyspark.sql import functions as F


def test_connected_components_warns_when_unconverged(spark):
    from sparkval.pipeline.dedup import connected_components

    # a path graph 0-1-2-...-9: diameter 9 needs ~9 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["a", "b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = connected_components(pairs, max_iter=2, check_every=1)
        labels.count()
    assert any(
        "did not converge" in str(w.message) for w in caught
    ), [str(w.message) for w in caught]

    # enough rounds: converges silently to ONE component
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = connected_components(pairs, max_iter=25, check_every=1)
        comps = {r["component"] for r in labels.collect()}
    assert comps == {0}
    assert not any("did not converge" in str(w.message) for w in caught)


def test_validate_self_releases_previous_fused_cache(spark, corpus_pair):
    from sparkval import ValidationConfig, ValidationEngine
    from sparkval.engine import _SCAN_CACHES, release_scan_caches

    corpus, snap, _commits = corpus_pair
    eng = ValidationEngine(ValidationConfig())
    base = eng.build_baseline(corpus)
    release_scan_caches()

    out1 = eng.validate(snap, base, single_scan=True)
    out1["verdicts"].count()
    assert len(_SCAN_CACHES) == 1
    # second direct call: the first call's cache is drained, not
    # accreted — at most the new call's own table remains
    out2 = eng.validate(snap, base, single_scan=True)
    out2["verdicts"].count()
    assert len(_SCAN_CACHES) == 1
    release_scan_caches()
    assert not _SCAN_CACHES


def test_sketches_accept_non_string_values(spark):
    """A numeric value column must hash (as its string form), not
    crash the executor with AttributeError in term_hash."""
    from sparkval.stats import (
        bloom_filters,
        countmin_sketches,
        kmv_sketches,
        merge_countmin,
    )

    df = spark.createDataFrame(
        [(i % 3, i * 11) for i in range(60)], ["g", "v"]
    ).select(F.col("g").cast("string").alias("g"), "v")
    cm = countmin_sketches(df, "v", ["g"])
    assert cm.count() == 3
    bl = bloom_filters(df, "v", ["g"])
    assert bl.count() == 3
    km = kmv_sketches(df, "v", ["g"])
    assert km.count() == 3
    # and the string form is what was hashed: identical to pre-cast
    cm2 = countmin_sketches(
        df.select("g", F.col("v").cast("string").alias("v")), "v", ["g"]
    )
    a = merge_countmin(cm, []).first()["sketch"]
    b = merge_countmin(cm2, []).first()["sketch"]
    assert list(a) == list(b)
