"""Constraint-check tests — violation rows vs pandas-computed oracles.

Mirrors the reference's golden discipline (reference_parity.rs): exact
row sets, no tolerances, deterministic ordering.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkval import constraints as C
from sparkval import fixtures as fx
from sparkval import histograms as H
from sparkval.config import ValidationConfig


def test_uniqueness_clean_corpus_has_no_violations(spark, corpus_pair):
    base, _, _ = corpus_pair
    assert C.uniqueness_violations(base).count() == 0


def test_uniqueness_flags_each_duplicated_row(spark, corpus_pair):
    _, snap, _ = corpus_pair
    out = C.uniqueness_violations(snap).toPandas()
    # 6 keys duplicated once each -> both copies flagged = 12 rows
    assert len(out) == 12
    assert set(out["check"]) == {"uniqueness"}
    assert (out.groupby(["repo", "path", "commit"]).size() == 2).all()
    assert set(out["detail"]) == {"key_count=2"}


def test_referential_flags_dangling_commits(spark, corpus_pair):
    _, snap, commits = corpus_pair
    out = C.referential_violations(snap, commits).toPandas()
    assert len(out) == 4
    assert out["commit"].str.startswith("dead").all()


def test_referential_clean(spark, corpus_pair):
    base, _, commits = corpus_pair
    assert C.referential_violations(base, commits).count() == 0


def test_null_violations(spark):
    pdf = fx.distort(fx.make_corpus("random_mid", 300), "nullify_10")
    df = spark.createDataFrame(pdf)
    out = C.null_violations(df).toPandas()
    expected = int(pdf["content"].isna().sum())
    assert expected > 0
    assert len(out) == expected
    assert (out["detail"] == "content").all()
    assert out["content_sha256"].isna().all()


def test_all_violations_union_and_order(spark, corpus_pair):
    _, snap, commits = corpus_pair
    out = C.all_violations(snap, commits).toPandas()
    assert len(out) == 16
    key = out[["check", "repo", "path", "commit"]].apply(tuple, axis=1).tolist()
    assert key == sorted(key)


def _from_row_partials(df, commits, expected=None):
    rows = H.split_fused(H.fused_scan_partials(df, ValidationConfig()))[1]
    return C.violations_from_row_partials(rows, commits, expected)


@pytest.mark.parametrize("with_manifest", [False, True], ids=["checks", "manifest"])
@pytest.mark.parametrize(
    "entry",
    [C.all_violations, _from_row_partials],
    ids=["all_violations", "violations_from_row_partials"],
)
def test_all_violations_fused_equals_union_of_checks(
    spark, corpus_pair, entry, with_manifest
):
    """Both entries into the one-probe finalize — over the raw corpus
    and over the fused scan's narrow row partials — must emit EXACTLY
    the rows of the individual reference checks, including a row that
    fires two checks at once (the filter + explode emits one row per
    firing check)."""
    _, snap, commits = corpus_pair
    first = snap.orderBy("repo", "path", "commit").first()
    # null-violation rows so all three checks fire at once; the first
    # is also a duplicate of an existing key (uniqueness AND null)
    nulls = spark.createDataFrame(
        [
            (first["repo"], first["path"], first["commit"], "py", None),
            ("rX", None, "c9", "py", None),
            (None, "p9", "c9", "py", "body"),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    df = snap.unionByName(nulls)
    want = (
        C.uniqueness_violations(df)
        .unionByName(C.null_violations(df))
        .unionByName(C.referential_violations(df, commits))
    )
    expected = None
    if with_manifest:
        # drop 3 rows, change 2 hashes, add 1 row the snapshot lacks;
        # the NULL-content rows are unexpected_in_snapshot
        ref = C.content_manifest(snap).toPandas().sort_values(["repo", "path", "commit"])
        ref = ref.iloc[3:].reset_index(drop=True)
        ref.loc[:1, "content_sha256"] = "0" * 64
        ref.loc[len(ref)] = ["rZ", "pZ", "cZ", "f" * 64]
        expected = spark.createDataFrame(ref)
        want = want.unionByName(C.manifest_violations(df, expected))
    got = entry(df, commits, expected).toPandas()
    want = want.toPandas()
    cols = ["check", "repo", "path", "commit", "content_sha256", "detail"]
    a = got[cols].sort_values(cols).reset_index(drop=True).fillna("~")
    b = want[cols].sort_values(cols).reset_index(drop=True).fillna("~")
    assert a.equals(b), (len(a), len(b))
    # the dup+NULL row fires uniqueness AND null_required
    dup_null = got[(got["repo"] == first["repo"]) & (got["path"] == first["path"])
                   & (got["commit"] == first["commit"])]
    assert {"uniqueness", "null_required"} <= set(dup_null["check"]), dup_null


def test_sha256_invariant_matches_hashlib(spark, corpus_pair):
    import hashlib

    base, _, _ = corpus_pair
    row = base.select("content", C.content_sha256().alias("h")).first()
    assert row["h"] == hashlib.sha256(row["content"].encode("utf-8")).hexdigest()


def test_manifest_roundtrip_clean(spark, corpus_pair):
    """A snapshot checked against its own manifest has zero row-invariant
    violations (per-row sha256 equality, BASELINE.json input_hint)."""
    from sparkval.constraints import content_manifest, manifest_violations

    base, _, _ = corpus_pair
    assert manifest_violations(base, content_manifest(base)).count() == 0


def test_manifest_violations_classified(spark, corpus_pair):
    from pyspark.sql import functions as F

    from sparkval.constraints import content_manifest, manifest_violations

    base, _, _ = corpus_pair
    ref = content_manifest(base)
    one = ref.orderBy("repo", "path", "commit").limit(3).collect()
    k_tamper, k_drop, k_extra = [ (r["repo"], r["path"], r["commit"]) for r in one ]
    perturbed = (
        ref.withColumn(
            "content_sha256",
            F.when(
                (F.col("repo") == k_tamper[0]) & (F.col("path") == k_tamper[1])
                & (F.col("commit") == k_tamper[2]),
                F.sha2(F.lit("x"), 256),
            ).otherwise(F.col("content_sha256")),
        )
        .filter(~((F.col("repo") == k_drop[0]) & (F.col("path") == k_drop[1])
                  & (F.col("commit") == k_drop[2])))
        .unionByName(
            ref.filter((F.col("repo") == k_extra[0]) & (F.col("path") == k_extra[1])
                       & (F.col("commit") == k_extra[2]))
            .select("repo", F.lit("___extra___").alias("path"), "commit", "content_sha256")
        )
    )
    out = {(r["path"], r["detail"]) for r in manifest_violations(base, perturbed).collect()}
    assert (k_tamper[1], "content_hash_mismatch") in out
    assert (k_drop[1], "unexpected_in_snapshot") in out
    assert ("___extra___", "missing_in_snapshot") in out


def test_manifest_null_content_semantics(spark):
    """NULL content hashes to NULL sha256 (a supported state): a
    NULL-content row present in BOTH manifests is NOT a violation, and
    a NULL-vs-hash difference is a content_hash_mismatch — never a
    phantom missing/unexpected row (presence flags + eqNullSafe)."""
    from pyspark.sql import functions as F

    from sparkval.constraints import content_manifest, manifest_violations

    rows = [
        ("r1", "a", "c1", "py", None),        # NULL in both -> clean
        ("r1", "b", "c1", "py", "hello"),     # NULL in ref -> mismatch
        ("r1", "c", "c1", "py", None),        # NULL here, hash in ref -> mismatch
    ]
    corpus = spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"])
    ref = content_manifest(corpus).withColumn(
        "content_sha256",
        F.when(F.col("path") == "b", F.lit(None).cast("string"))
        .when(F.col("path") == "c", F.sha2(F.lit("was-here").cast("binary"), 256))
        .otherwise(F.col("content_sha256")),
    )
    out = {(r["path"], r["detail"]) for r in manifest_violations(corpus, ref).collect()}
    assert out == {("b", "content_hash_mismatch"), ("c", "content_hash_mismatch")}


# ------------------------------------------------- rule_suite / fd_check

def test_rule_suite_one_scan_counts(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkval.constraints import rule_suite

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "x": [1, 2, None, 4, -5],
                "s": ["a", "b", "c", None, "d"],
            }
        )
    )
    out = rule_suite(
        df,
        {
            "x_positive": F.col("x") > 0,
            "s_not_null": F.col("s").isNotNull(),
            "always": F.lit(True),
        },
    ).toPandas().set_index("rule")
    assert (out.n_rows == 5).all()
    # NULL x counts as a violation of x_positive (unknown fails)
    assert out.loc["x_positive"].n_violations == 2
    assert out.loc["s_not_null"].n_violations == 1
    assert out.loc["always"].n_violations == 0
    assert bool(out.loc["always"]["pass"]) is True
    assert bool(out.loc["x_positive"]["pass"]) is False


def test_rule_suite_single_aggregate_plan(spark):
    """N rules must compile to ONE aggregate over ONE scan."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sparkval.constraints import rule_suite

    df = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    out = rule_suite(df, {f"r{i}": F.col("x") > i for i in range(8)})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1


def test_rule_suite_rejects_bad_names(spark):
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F

    from sparkval.constraints import rule_suite

    df = spark.createDataFrame(pd.DataFrame({"x": [1]}))
    with pytest.raises(ValueError, match="rule name"):
        rule_suite(df, {"bad name'": F.col("x") > 0})
    with pytest.raises(ValueError, match="at least one"):
        rule_suite(df, {})


def test_fd_check_g3_cost(spark):
    import pandas as pd

    from sparkval.constraints import fd_check

    # key a: 3x'en' + 1x'de' + 1xNULL -> majority 3, violations 2
    # key b: pure 'fr' -> not reported
    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 3,
            "y": ["en", "en", "en", "de", None, "fr", "fr", "fr"],
        }
    )
    out = fd_check(spark.createDataFrame(pdf), ["k"], "y").collect()
    assert len(out) == 1
    row = out[0]
    assert row["k"] == "a"
    assert row["n_rows"] == 5
    assert row["n_distinct_dep"] == 3  # en, de, NULL are three classes
    assert row["n_violations"] == 2


def test_fd_check_min_violations_threshold(spark):
    import pandas as pd

    from sparkval.constraints import fd_check

    pdf = pd.DataFrame(
        {"k": ["a"] * 10 + ["b"] * 10, "y": ["x"] * 9 + ["z"] + ["w"] * 10}
    )
    strict = fd_check(spark.createDataFrame(pdf), ["k"], "y", min_violations=2)
    assert strict.count() == 0  # a's single dissenter is below threshold
    loose = fd_check(spark.createDataFrame(pdf), ["k"], "y")
    assert loose.count() == 1


# ------------------------------------------- schema_diff / rate limit

def test_schema_diff_all_statuses(spark):
    from pyspark.sql import types as T

    from sparkval.schema import schema_diff

    actual = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True),
            T.StructField("c", T.IntegerType(), True),
            T.StructField("x", T.StringType(), True),
        ]
    )
    expected = T.StructType(
        [
            T.StructField("a", T.LongType(), True),       # ok
            T.StructField("b", T.StringType(), False),    # nullability
            T.StructField("c", T.LongType(), True),       # type_mismatch
            T.StructField("m", T.DoubleType(), True),     # missing
        ]  # x -> extra
    )
    got = {r["column"]: r["status"] for r in schema_diff(actual, expected)}
    assert got == {
        "a": "ok", "b": "nullability", "c": "type_mismatch",
        "m": "missing", "x": "extra",
    }


def test_schema_diff_nullable_expected_accepts_nonnull_actual(spark):
    from pyspark.sql import types as T

    from sparkval.schema import schema_diff

    actual = T.StructType([T.StructField("a", T.LongType(), False)])
    expected = T.StructType([T.StructField("a", T.LongType(), True)])
    [r] = schema_diff(actual, expected)
    assert r["status"] == "ok"  # stricter-than-required is conformant


def test_rate_limit_boundary_inclusive(spark):
    import datetime as dt

    import pandas as pd

    from sparkval.constraints import rate_limit_violations

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "user_id": [7, 7, 7, 7],
            "ts": [
                t0,
                t0 + dt.timedelta(seconds=3600),   # exactly W later: in-window
                t0 + dt.timedelta(seconds=3601),
                t0 + dt.timedelta(seconds=99999),  # isolated
            ],
        }
    )
    out = rate_limit_violations(
        spark.createDataFrame(pdf), max_events=1, window_seconds=3600
    ).collect()
    got = {(r["event_id"], r["n_in_window"]) for r in out}
    # event 2 sees {1,2} (inclusive boundary); event 3 sees {2,3}
    assert got == {(2, 2), (3, 2)}


def test_rate_limit_counts_burst_across_bucket_boundary(spark):
    """The failure mode of tumbling buckets: a burst straddling an
    hour boundary. The sliding window must flag it."""
    import datetime as dt

    import pandas as pd

    from sparkval.constraints import rate_limit_violations

    t0 = dt.datetime(2024, 1, 1, 12, 59, 0)
    pdf = pd.DataFrame(
        {
            "event_id": range(6),
            "user_id": [1] * 6,
            "ts": [t0 + dt.timedelta(seconds=30 * i) for i in range(6)],
        }
    )
    out = rate_limit_violations(
        spark.createDataFrame(pdf), max_events=3, window_seconds=120
    ).collect()
    # 30s spacing, 120s inclusive window: event 3 already sees 4
    assert {r["event_id"] for r in out} == {3, 4, 5}


# ----------------------------------- monotonicity / coverage gaps

def test_monotonicity_flags_regressions_only(spark):
    import pandas as pd

    from sparkval.constraints import monotonicity_violations

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 5 + ["b"] * 3,
            "o": [1, 2, 3, 4, 5, 1, 2, 3],
            "v": [10, 20, 15, 20, 30, 1, 1, 2],  # a: dip at o=3
        }
    )
    out = monotonicity_violations(
        spark.createDataFrame(pdf), "k", "o", "v"
    ).collect()
    assert len(out) == 1
    assert out[0]["o"] == 3 and out[0]["v"] == 15 and out[0]["prev_value"] == 20


def test_monotonicity_strict_flags_plateaus(spark):
    import pandas as pd

    from sparkval.constraints import monotonicity_violations

    pdf = pd.DataFrame({"k": ["a"] * 3, "o": [1, 2, 3], "v": [1, 1, 2]})
    df = spark.createDataFrame(pdf)
    assert monotonicity_violations(df, "k", "o", "v").count() == 0
    strict = monotonicity_violations(df, "k", "o", "v", strict=True).collect()
    assert len(strict) == 1 and strict[0]["o"] == 2


def test_monotonicity_order_ties_do_not_self_report(spark):
    import pandas as pd

    from sparkval.constraints import monotonicity_violations

    # two rows at the same order position with different values: the
    # value tiebreak orders them ascending -> no violation
    pdf = pd.DataFrame({"k": ["a", "a"], "o": [1, 1], "v": [5, 3]})
    assert (
        monotonicity_violations(spark.createDataFrame(pdf), "k", "o", "v").count()
        == 0
    )


def test_coverage_gaps_finds_silent_hours(spark):
    import datetime as dt

    import pandas as pd

    from sparkval.pipeline.events import coverage_gaps

    t0 = dt.datetime(2024, 1, 1, 0, 30, 0)
    rows = [
        {"event_type": "x", "ts": t0},                          # hour 0
        {"event_type": "x", "ts": t0 + dt.timedelta(hours=1)},  # hour 1
        {"event_type": "x", "ts": t0 + dt.timedelta(hours=4)},  # hour 4
        {"event_type": "y", "ts": t0},                          # single hour
    ]
    out = coverage_gaps(spark.createDataFrame(pd.DataFrame(rows))).collect()
    got = {(r["event_type"], r["missing_ts"].hour) for r in out}
    assert got == {("x", 2), ("x", 3)}  # y's span has no interior


def test_coverage_gaps_plan_collapses_before_calendar(spark, sf_dir):
    from tests.conftest import load
    from sparkval.pipeline.events import coverage_gaps

    ev = load(spark, sf_dir, "events")
    plan = (
        coverage_gaps(ev)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan  # the calendar


def test_null_repo_validate_end_to_end_tolerates_and_reports(spark):
    """The full validate() leg must complete on a NULL-repo corpus and
    still report the NULL key as a violation (tolerate-and-report)."""
    from sparkval.baseline import build_baseline
    from sparkval.engine import ValidationEngine

    pdf = fx.make_corpus("random_mid", 200)
    snap_pdf = pdf.copy()
    snap_pdf.loc[0, "repo"] = None
    cfg = ValidationConfig(n_repo_buckets=8)
    engine = ValidationEngine(cfg)
    base = build_baseline(spark.createDataFrame(pdf), cfg)
    result = engine.validate(spark.createDataFrame(snap_pdf), base)
    viols = result["violations"].toPandas()
    assert (viols["check"] == "null_required").any()
    assert result["verdicts"].count() > 0


def test_deterministic_order_cap_is_deterministic_prefix(spark):
    pdf = pd.DataFrame(
        {
            "k": [f"k{i % 7:02d}" for i in range(40)],
            "v": [f"v{i:02d}" for i in range(40)],
        }
    )
    want = pdf.sort_values(["k", "v"]).head(10).reset_index(drop=True)
    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(pdf).repartition(parts)
        out = C.deterministic_order(df, ["k"], max_rows=10).toPandas()
        outs.append(out.reset_index(drop=True))
    # same subset regardless of input partitioning, and it is exactly
    # the first 10 rows of the total order (keys + tiebreakers)
    pd.testing.assert_frame_equal(outs[0], outs[1])
    pd.testing.assert_frame_equal(outs[0], want)


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
