"""Histogram + column-stats tests vs straight-line numpy/pandas oracles.

Stage-wise oracle discipline from the reference
(tests/intermediate_values.rs): every distributed kernel is compared
against a single-machine reimplementation on the same input.
"""

import numpy as np
import pandas as pd
import pytest

from sparkval import fixtures as fx, tdigest
from sparkval.config import BYTE_BINS, LEN_BINS, ValidationConfig
from sparkval.drift import partition_histograms
from sparkval.histograms import repo_bucket_py
from sparkval.stats import column_stats, length_tdigests

CFG = ValidationConfig()


def oracle_hists(pdf: pd.DataFrame):
    """Single-machine reference implementation of partition_histograms
    (without the lang-mix channel)."""
    from sparkval.config import LANG_VOCAB

    bucket = pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets))
    lang = pdf["lang"].fillna("other").str.lower()
    lang = lang.where(lang.isin(LANG_VOCAB), "other")
    out = {}
    for (b, lg), grp in pdf.assign(_b=bucket, _l=lang).groupby(["_b", "_l"]):
        present = grp["content"].dropna()
        bh = np.zeros(BYTE_BINS, dtype=np.int64)
        lh = np.zeros(LEN_BINS, dtype=np.int64)
        for c in present:
            bh += np.bincount(
                np.frombuffer(c.encode("utf-8", "replace"), dtype=np.uint8),
                minlength=BYTE_BINS,
            )
        if len(present):
            lens = present.str.len().to_numpy(dtype=np.int64)
            lh = np.bincount(
                np.clip(np.log2(lens + 1).astype(np.int64), 0, LEN_BINS - 1),
                minlength=LEN_BINS,
            )
        out[(b, lg)] = (len(grp), int(grp["content"].isna().sum()), bh, lh)
    return out


@pytest.fixture(scope="module")
def corpus_pdf():
    return fx.make_corpus("random_mid", n_rows=800)


def test_corpus_histograms_match_numpy_oracle(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    got = partition_histograms(df, CFG).toPandas()
    want = oracle_hists(corpus_pdf)
    assert len(got) == len(want)
    for _, row in got.iterrows():
        n, nn, bh, lh = want[(row["repo_bucket"], row["lang"])]
        assert row["n_files"] == n
        assert row["n_null_content"] == nn
        assert np.array_equal(np.array(row["byte_hist"]), bh), (row["repo_bucket"], row["lang"])
        assert np.array_equal(np.array(row["len_hist"]), lh)


def test_fold_matches_per_key_oracle():
    """histograms._fold against a per-key Python loop over unsorted
    rows: counts and vectors sum, signed int64 fingerprints XOR."""
    from sparkval.histograms import _fold

    rng = np.random.default_rng(7)
    m = 500
    keys = rng.integers(0, 40, m)
    cols = (
        rng.integers(0, 100, m), rng.integers(0, 5, m), rng.integers(0, 10**6, m),
        rng.integers(0, 1000, (m, BYTE_BINS)), rng.integers(0, 50, (m, LEN_BINS)),
        rng.integers(-(2**63), 2**63 - 1, m, dtype=np.int64),
    )
    got = _fold(keys, *cols)
    assert np.array_equal(got[0], np.unique(keys))
    for i, k in enumerate(got[0]):
        sel = keys == k
        for j in range(5):
            assert np.array_equal(got[j + 1][i], cols[j][sel].sum(axis=0)), (k, j)
        fp = 0
        for f in cols[5][sel]:
            fp ^= int(f)
        assert int(got[6][i]) == fp, k


def _merged_hists(df) -> pd.DataFrame:
    return (
        partition_histograms(df, CFG).toPandas().set_index(["repo_bucket", "lang"]).sort_index()
    )


def _assert_same_hists(a: pd.DataFrame, b: pd.DataFrame) -> None:
    """Every merged column equal, row for row: the summed counts and
    vectors, the XOR'd fingerprint and the derived lang mix."""
    assert list(a.index) == list(b.index)
    assert sorted(a.columns) == sorted(b.columns) == sorted(
        ["n_files", "n_null_content", "total_bytes", "byte_hist", "len_hist",
         "fingerprint", "lang_hist"]
    )
    for c in a.columns:
        for k in a.index:
            assert np.array_equal(np.asarray(a.loc[k, c]), np.asarray(b.loc[k, c])), (c, k)


def test_histograms_partition_parity(spark, corpus_pdf):
    """repartition(1) == repartition(8): the strip_parity analog
    (strip.rs:38-45) — every merged column must be exactly equal."""
    _assert_same_hists(
        _merged_hists(spark.createDataFrame(corpus_pdf).repartition(1)),
        _merged_hists(spark.createDataFrame(corpus_pdf).repartition(8)),
    )


def test_histograms_parity_across_many_batches(spark, corpus_pdf):
    """With 50-record Arrow batches each task folds several batches
    into its state (200 rows per task here); the merged table must
    equal the one-partition, one-batch build column for column."""
    want = _merged_hists(spark.createDataFrame(corpus_pdf).repartition(1))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        got = _merged_hists(spark.createDataFrame(corpus_pdf).repartition(4))
    finally:
        spark.conf.set(key, prev)
    _assert_same_hists(want, got)


def test_lang_hist_normalized(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    out = partition_histograms(df, CFG).toPandas()
    for _, row in out.iterrows():
        lh = np.array(row["lang_hist"])
        assert lh.shape == (9,)
        assert abs(lh.sum() - 1.0) < 1e-9


def test_null_repo_does_not_abort_histogram_scan(spark):
    """NULL repo must not abort the mapInArrow scan (crc32(NULL)
    previously NULLed the group key -> ArrowInvalid)."""
    pdf = fx.make_corpus("random_mid", 200)
    pdf.loc[0, "repo"] = None
    pdf.loc[1, "repo"] = None
    df = spark.createDataFrame(pdf)
    cfg = ValidationConfig(n_repo_buckets=8)
    hists = partition_histograms(df, cfg).toPandas()  # previously: ArrowInvalid
    # every row (including the NULL-repo ones) lands in some bucket
    assert int(hists["n_files"].sum()) == 200
    # the sentinel bucket matches the python-side mirror
    assert repo_bucket_py(None, 8) in set(hists["repo_bucket"])


def test_column_stats_vs_pandas(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    got = column_stats(df, ["lang"]).toPandas().set_index("lang").sort_index()
    want = corpus_pdf.assign(_len=corpus_pdf["content"].str.len()).groupby("lang")
    for lang, grp in want:
        assert got.loc[lang, "n_rows"] == len(grp)
        assert got.loc[lang, "len_min"] == grp["_len"].min()
        assert got.loc[lang, "len_max"] == grp["_len"].max()
        assert abs(got.loc[lang, "len_mean"] - grp["_len"].mean()) < 1e-6
        # HLL++ default rsd is 5%; allow 3 sigma
        truth = grp["path"].nunique()
        assert abs(got.loc[lang, "approx_distinct_paths"] - truth) <= max(5, 0.15 * truth)


def test_tdigest_quantiles_accurate():
    rng = np.random.default_rng(42)
    vals = rng.lognormal(5, 1.5, 20000)
    # build from 20 shards, merge — mergeability is the point
    shards = [tdigest.digest_from_values(vals[i::20]) for i in range(20)]
    d = tdigest.merge_digests(shards)
    # value-space tolerance: tight mid-range, looser on the heavy
    # lognormal tail (t-digest guarantees are rank-space)
    for q, tol in ((0.1, 0.02), (0.5, 0.02), (0.9, 0.02), (0.99, 0.10)):
        est = tdigest.quantile(d, q)
        truth = np.quantile(vals, q)
        assert abs(est - truth) / truth < tol, (q, est, truth)


def test_tdigest_deterministic_and_order_insensitive():
    vals = np.arange(1000, dtype=np.float64)
    a = tdigest.digest_from_values(vals)
    b = tdigest.digest_from_values(vals[::-1].copy())
    assert np.allclose(a, b)


def test_length_tdigests_spark(spark, corpus_pdf):
    df = spark.createDataFrame(corpus_pdf)
    out = length_tdigests(df, CFG).toPandas()
    assert len(out) > 0
    joined = out.merge(
        corpus_pdf.assign(
            repo_bucket=corpus_pdf["repo"].map(lambda r: repo_bucket_py(r, CFG.n_repo_buckets)),
            _len=corpus_pdf["content"].str.len(),
        ),
        on=["repo_bucket", "lang"],
    )
    for (b, lg), grp in joined.groupby(["repo_bucket", "lang"]):
        if len(grp) < 50:
            continue
        truth = grp["_len"].quantile(0.5)
        est = grp["len_p50"].iloc[0]
        assert abs(est - truth) <= max(5, 0.15 * truth), (b, lg, est, truth)


def test_length_tdigests_all_null_group(spark):
    """A (repo_bucket, lang) group whose content is all NULL yields an
    empty digest and NULL quantiles — F.percentile's answer over
    all-NULL input — instead of aborting the job."""
    from pyspark.sql import functions as F

    from sparkval.histograms import prepared_scan

    df = spark.createDataFrame(
        [("r", "p", "c", "python", None), ("r", "q", "c", "rust", "fn main() {}")],
        "repo string, path string, commit string, lang string, content string",
    )
    got = {r["lang"]: r for r in length_tdigests(df, CFG).collect()}
    assert set(got) == {"python", "rust"}
    assert list(got["python"]["len_tdigest"]) == []
    assert [got["python"][f"len_p{p}"] for p in (50, 90, 99)] == [None] * 3
    assert len(got["rust"]["len_tdigest"]) > 0
    assert got["rust"]["len_p50"] == 12.0
    exact = {
        r["_l"]: r["p50"]
        for r in prepared_scan(df, CFG.n_repo_buckets)
        .groupBy("_l").agg(F.percentile("_len", 0.5).alias("p50")).collect()
    }
    assert exact == {"python": None, "rust": 12.0}


@pytest.mark.parametrize("family", ["countmin", "bloom", "kmv"])
def test_sketches_accept_non_string_values(spark, family):
    """A numeric value column must hash (as its string form), not
    crash the executor with AttributeError in term_hash."""
    from pyspark.sql import functions as F

    from sparkval import stats

    build, merge, col = {
        "countmin": (stats.countmin_sketches, stats.merge_countmin, "sketch"),
        "bloom": (stats.bloom_filters, stats.merge_bloom, "filter"),
        "kmv": (stats.kmv_sketches, stats.merge_kmv, "sketch"),
    }[family]
    df = spark.createDataFrame(
        [(i % 3, i * 11) for i in range(60)], ["g", "v"]
    ).select(F.col("g").cast("string").alias("g"), "v")
    sk = build(df, "v", ["g"])
    assert sk.count() == 3
    # and the string form is what was hashed: identical to pre-cast
    sk2 = build(
        df.select("g", F.col("v").cast("string").alias("v")), "v", ["g"]
    )
    a = merge(sk, []).first()[col]
    b = merge(sk2, []).first()[col]
    assert list(a) == list(b)


def test_distinct_sketches_mergeable_monoid(spark):
    """HLL sketches are a reusable monoid: per-group sketches roll up
    to coarser groups and global without rescanning; estimates stay
    within the sketch error bound of exact at every level."""
    from pyspark.sql import functions as F

    from sparkval.stats import distinct_sketches, merge_distinct_sketches

    rows = [(f"g{i % 4}", f"k{i % 100}") for i in range(1000)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    sk = distinct_sketches(df, "key", ["grp"])
    per = {r["grp"]: r["distinct_estimate"]
           for r in merge_distinct_sketches(sk, ["grp"]).collect()}
    # keys k0..k99 cycle over groups g0..g3 -> each group sees 25 keys
    assert set(per) == {"g0", "g1", "g2", "g3"}
    for v in per.values():
        assert abs(v - 25) <= 1
    glob = merge_distinct_sketches(sk, []).collect()[0]
    assert abs(glob["distinct_estimate"] - 100) <= 3
    assert glob["n_rows"] == 1000


# ----------------------------------------------------------- rollup_stats

def test_rollup_stats_all_levels_consistent(spark):
    import pandas as pd

    from sparkval.stats import rollup_stats

    pdf = pd.DataFrame(
        {
            "lang": ["en", "en", "fr", "fr", "fr"],
            "src": ["a", "b", "a", "a", "b"],
            "v": [10, 20, 30, 40, 50],
        }
    )
    out = rollup_stats(
        spark.createDataFrame(pdf), ["lang", "src"], "v"
    ).toPandas()
    levels = out.groupby("grouping_level").n_rows.sum().to_dict()
    # every level partitions the 5 rows
    assert levels == {"lang,src": 5, "lang": 5, "src": 5, "total": 5}
    total = out[out.grouping_level == "total"].iloc[0]
    assert total.val_sum == 150 and total.val_min == 10 and total.val_max == 50
    fr = out[(out.grouping_level == "lang") & (out.lang == "fr")].iloc[0]
    assert fr.val_sum == 120 and fr.val_mean == 40.0
    cell = out[
        (out.grouping_level == "lang,src") & (out.lang == "fr") & (out.src == "a")
    ].iloc[0]
    assert cell.n_rows == 2 and cell.val_sum == 70
    assert len(out) == 2 + 2 + 4 + 1  # langs + srcs + seen cells + total


def test_rollup_stats_single_scan(spark, sf_dir):
    from tests.conftest import load
    from sparkval.stats import rollup_stats

    docs = load(spark, sf_dir, "documents")
    plan = (
        rollup_stats(docs, ["lang", "source"], "n_chars")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan  # the map-side cube expansion


def test_correlation_profile_known_values(spark):
    import numpy as np
    import pandas as pd

    from sparkval.stats import correlation_profile

    rng = np.random.default_rng(5)
    x = rng.normal(size=300)
    pdf = pd.DataFrame(
        {
            "x": x,
            "y": 2 * x + 1,          # r == 1 exactly
            "z": rng.normal(size=300),  # near-zero r
        }
    )
    out = correlation_profile(
        spark.createDataFrame(pdf), ["x", "y", "z"]
    ).toPandas().set_index(["col_a", "col_b"])
    assert out.loc[("x", "y")].r == 1.0
    assert abs(out.loc[("x", "z")].r) < 0.2
    exp = round(float(np.corrcoef(x, pdf.z)[0, 1]), 6)
    assert out.loc[("x", "z")].r == pytest.approx(exp, abs=1e-5)
    assert (out.n_pairs == 300).all()


def test_correlation_profile_pairwise_null_deletion(spark):
    import pandas as pd

    from sparkval.stats import correlation_profile

    pdf = pd.DataFrame(
        {
            "a": [1.0, 2.0, 3.0, None, 5.0],
            "b": [2.0, 4.0, 6.0, 8.0, None],
        }
    )
    [r] = correlation_profile(spark.createDataFrame(pdf), ["a", "b"]).collect()
    assert r["n_pairs"] == 3
    assert r["r"] == 1.0  # the 3 complete pairs are perfectly linear


def test_correlation_profile_single_aggregate(spark, sf_dir):
    from tests.conftest import load
    from sparkval.stats import correlation_profile

    ev = load(spark, sf_dir, "events").select("value", "user_id", "event_id")
    plan = (
        correlation_profile(ev, ["value", "user_id", "event_id"])
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("Aggregate") == 1, plan
