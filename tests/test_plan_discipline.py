"""Physical-plan discipline tests (SURVEY §7.3 hard part d).

The north rule requires ALL predicate evaluation through vectorized
Arrow UDFs and DataFrame SQL — no per-row Python. These tests
enforce it two ways: statically (no .rdd / row-at-a-time udf / pandas
UDF anywhere in the package) and physically (scans prune + push down,
dimension joins broadcast, python stages are Arrow-vectorized
(MapInArrow, FlatMapGroupsInArrow, ArrowEvalPython), never
BatchEvalPython).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from tests.conftest import load

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sparkval")


def _pkg_sources():
    for root, _, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                with open(path) as f:
                    yield path, f.read()


def test_no_rdd_api_usage():
    # the rule forbids RDD-based COMPUTE (per-row python, no codegen);
    # .rdd.getNumPartitions() is driver-side metadata introspection
    # (partition count only — no job, no row ever crosses to python)
    # and is the one allowed use (_spread_small_input)
    offenders = [
        p
        for p, src in _pkg_sources()
        if re.search(
            r"\.rdd\b(?!\.getNumPartitions\(\))|sparkContext\.parallelize", src
        )
    ]
    assert not offenders, offenders


def test_no_row_at_a_time_udf():
    # row-at-a-time registrations: F.udf(...), @udf — the slow path the
    # north rule forbids. Batch boundaries (mapInArrow / applyInArrow /
    # arrow_udf) are the only ones allowed.
    pat = re.compile(r"(?<!pandas_)\budf\s*\(")
    offenders = []
    for p, src in _pkg_sources():
        for m in pat.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{p}:{line}")
    assert not offenders, offenders


def test_no_pandas_udf_boundary():
    # every Python stage reads and writes Arrow data: a pandas UDF adds
    # a pandas conversion on each side of the boundary. The streaming
    # state call (applyInPandasWithState) has no Arrow form and stays.
    pat = re.compile(r"mapInPandas\(|applyInPandas\(|pandas_udf")
    offenders = []
    for p, src in _pkg_sources():
        for m in pat.finditer(src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{p}:{line}")
    assert not offenders, offenders


def test_scan_prunes_and_pushes_down(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    plan = (
        docs.filter(F.col("lang") == "en")
        .select("doc_id", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # column pruning: the scan must not read `text`
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" not in m.group(1), plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(lang,en\)", plan), plan


def test_referential_check_broadcasts(spark, corpus_pair):
    from sparkval.constraints import referential_violations

    base, _, commits = corpus_pair
    plan = (
        referential_violations(base, commits)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_python_stages_are_arrow_vectorized(spark, corpus_pair):
    """Every python execution node of the drift pipeline, the sketch
    builds and roll-ups and feature extraction reads and writes Arrow
    batches (MapInArrow, plus FlatMapGroupsInArrow for merges): no
    pandas conversion (MapInPandas, FlatMapGroupsInPandas) and no
    BatchEvalPython (pickled row-at-a-time)."""
    from sparkval import ValidationConfig, ValidationEngine, stats
    from sparkval.pipeline import multimodal

    base, snap, _ = corpus_pair
    eng = ValidationEngine(ValidationConfig())
    terms = snap.select("lang", "repo", F.col("path").alias("term"))
    frames = {
        "verdicts": eng.validate(snap, eng.build_baseline(base))["verdicts"],
        "length_tdigests": stats.length_tdigests(snap, ValidationConfig()),
        "extract_features": multimodal.extract_features(multimodal.make_fake_media(spark, 8)),
    }
    for name, build, merge in (
        ("countmin", stats.countmin_sketches, stats.merge_countmin),
        ("bloom", stats.bloom_filters, stats.merge_bloom),
        ("kmv", stats.kmv_sketches, stats.merge_kmv),
    ):
        sk = build(terms, "term", ["lang", "repo"])
        frames[name] = sk
        frames[f"merge_{name}"] = merge(sk, ["lang"])
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, (name, plan)
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"):
            assert node not in plan, (name, node, plan)


def test_similarity_python_stages_are_arrow(spark, sf_dir, tmp_path, monkeypatch):
    """Every Python stage of the embedding search/cluster/LSH family
    reads and writes Arrow batches (MapInArrow / FlatMapGroupsInArrow):
    no pandas conversion (MapInPandas, FlatMapGroupsInPandas) and no
    row-at-a-time Python (BatchEvalPython). cluster_embeddings runs its
    Lloyd rounds eagerly, so their plans are captured at collect."""
    from sparkval.pipeline import similarity as S

    emb = load(spark, sf_dir, "embeddings")
    queries = [(r["vec_id"], list(r["embedding"])) for r in emb.limit(2).collect()]
    path = str(tmp_path / "ivf")
    S.write_ivf_index(emb, path, n_centroids=4)
    plans = []
    collect = type(emb).collect

    def recording_collect(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(type(emb), "collect", recording_collect)
    frames = [
        S.brute_force_topk(emb, queries, k=3),
        S.ivf_topk_indexed(spark, path, queries, k=3, nprobe=2),
        S.ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=2),
        S.cluster_embeddings(emb, k=3, iters=1),
        S.lsh_bands(emb, keep_vec=True),
        S.random_projection(emb),
    ]
    plans += [f._jdf.queryExecution().executedPlan().toString() for f in frames]
    assert sum("FlatMapGroupsInArrow" in p for p in plans) == 1, plans  # the k-means merge
    for plan in plans[-len(frames):]:
        assert "MapInArrow" in plan, plan
    for plan in plans:
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython"):
            assert node not in plan, (node, plan)


def test_histogram_shuffle_carries_no_content(spark, corpus_pair):
    """The corpus scan's output rows (what would shuffle at scale) are
    fixed-size histogram vectors, never content: assert the partial
    schema has no content column and the merged table is O(keys)."""
    from sparkval.config import ValidationConfig
    from sparkval.histograms import partial_histograms

    base, _, _ = corpus_pair
    cfg = ValidationConfig()
    partials = partial_histograms(base, cfg)
    assert "content" not in partials.columns
    # every column is a key, a scalar, or a fixed-width count vector:
    # the row is ~2.6 KB regardless of how many GB of content fed it
    from pyspark.sql import types as T

    for f in partials.schema.fields:
        assert isinstance(
            f.dataType, (T.IntegerType, T.LongType, T.StringType, T.ArrayType)
        ), f
    # and the merged table is O(keys), not O(files)
    n_keys = partials.select("repo_bucket", "lang").distinct().count()
    from sparkval.histograms import merge_histograms_with_lang

    assert merge_histograms_with_lang(partials).count() == n_keys


def test_bucketed_table_uniqueness_is_shuffle_free(spark, corpus_pair, tmp_path):
    """The docs/SCALE.md claim, proven on a real plan: with the corpus
    stored bucketed by the natural key, the uniqueness check's
    groupBy(key) reuses the storage partitioning — ZERO exchanges
    (at 10^12 rows this is the difference between a 60 TB shuffle and
    none)."""
    base, _, _ = corpus_pair
    spark.sql("DROP TABLE IF EXISTS corpus_bucketed")
    (
        base.write.bucketBy(8, "repo", "path", "commit")
        .sortBy("repo", "path", "commit")
        .format("parquet")
        .option("path", str(tmp_path / "corpus_bucketed"))  # external: keep the repo cwd clean
        .mode("overwrite")
        .saveAsTable("corpus_bucketed")
    )
    try:
        from pyspark.sql import functions as F

        t = spark.table("corpus_bucketed")
        dup = (
            t.groupBy("repo", "path", "commit")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
        )
        plan = dup._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and results match the unbucketed path
        want = (
            base.groupBy("repo", "path", "commit")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .count()
        )
        assert dup.count() == want
    finally:
        spark.sql("DROP TABLE IF EXISTS corpus_bucketed")


def test_histogram_shuffle_volume_bounded_under_hot_repo_skew(spark):
    """Hot-repo skew evidence for the ENGINE path (north-star: explicit
    skew handling): with 90% of all files in ONE repo, the scan's
    shuffle row count must stay O(input_partitions x present keys) —
    map-side partials absorb the skew, so no reducer ever receives
    O(files) rows for the hot key."""
    import pandas as pd

    from sparkval import fixtures as fx
    from sparkval.config import ValidationConfig
    from sparkval.histograms import partial_histograms

    pdf = fx.make_corpus("random_mid", 3000)
    pdf = pdf.copy()
    pdf.loc[pdf.index[: int(len(pdf) * 0.9)], "repo"] = "hot_repo"
    assert (pdf["repo"] == "hot_repo").mean() >= 0.9
    n_input_parts = 6
    df = spark.createDataFrame(pdf).repartition(n_input_parts)

    cfg = ValidationConfig()
    partials = partial_histograms(df, cfg)
    n_keys = partials.select("repo_bucket", "lang").distinct().count()
    # each input partition emits at most one partial per present key:
    # 3000 skewed files collapse to <= parts x keys shuffle rows
    assert partials.count() <= n_input_parts * n_keys
    # and the hot key's reducer receives at most n_input_parts rows
    hot = (
        partials.groupBy("repo_bucket", "lang")
        .count()
        .agg(F.max("count").alias("m"))
        .first()["m"]
    )
    assert hot <= n_input_parts


def test_dedupe_fused_plan_no_per_row_python_no_cartesian(spark):
    """The fused near-dup dedup (LSH -> CC -> retention) must stay on
    the vectorized path end-to-end: no BatchEvalPython (row pickling),
    no CartesianProduct / BroadcastNestedLoopJoin (the all-pairs trap
    LSH exists to avoid) anywhere in its physical plan."""
    import pandas as pd

    from sparkval.pipeline.dedup import dedupe_near_duplicates

    pdf = pd.DataFrame(
        {"doc_id": range(60),
         "text": [f"shared words plus token{i} and token{i+1}" for i in range(60)]}
    )
    kept = dedupe_near_duplicates(spark.createDataFrame(pdf), threshold=0.9)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_strip_walker_resume_scans_only_remaining_files(spark, tmp_path):
    """Plan-level proof of the scan-skipping resume claim: after k
    strips commit, the resumed run's scans must touch ONLY the
    remaining strips' input files (tracked via inputFiles of the
    per-strip reads — committed strips never build a scan at all)."""
    from pyspark.sql import functions as F  # noqa: F811

    from sparkval import (
        CancellationToken,
        ValidationCancelled,
        ValidationConfig,
        ValidationEngine,
    )

    corpus = spark.range(0, 3000).select(
        F.concat(F.lit("r"), (F.col("id") % 9).cast("string")).alias("repo"),
        F.col("id").cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    )
    path = str(tmp_path / "snap.parquet")
    corpus.repartition(6).write.parquet(path)
    eng = ValidationEngine(ValidationConfig(short_circuit_identical=False))
    base = eng.build_baseline(corpus)
    ckpt = str(tmp_path / "ck")

    # files hash to strips: the hook reports the non-empty strip
    # count n, and the cancel fires at its midpoint
    stop = CancellationToken(spark)
    half = []

    def cancel_at_half(i, n, sk):
        if i == n // 2:
            half.append(i)
            stop.cancel("half")

    try:
        eng.validate_strips(path, base, ckpt, stop=stop, n_strips=6,
                            on_strip=cancel_at_half)
    except ValidationCancelled:
        pass

    import os

    committed = {
        d for d in os.listdir(f"{ckpt}/fused_partials")
        if os.path.exists(f"{ckpt}/fused_partials/{d}/_SUCCESS")
    }
    assert len(committed) == half[0]

    seen = []
    out = eng.validate_strips(
        path, base, ckpt, n_strips=6,
        on_strip=lambda i, n, sk: seen.append(sk),
    )
    assert seen == [True] * half[0] + [False] * (len(seen) - half[0])
    out["verdicts"].count()
    # every strip committed now; nothing left to scan on a third run
    seen3 = []
    eng.validate_strips(path, base, ckpt, n_strips=6,
                        on_strip=lambda i, n, sk: seen3.append(sk))
    assert seen3 == [True] * len(seen)


def test_strip_violation_finalize_plan_narrow_and_vectorized(spark):
    """The strip-mode violation finalize must stay on the narrow
    vectorized path: no BatchEvalPython (it is pure built-ins), no
    CartesianProduct/BroadcastNestedLoopJoin, and the duplicate-key
    join-back broadcast (rare-key side) — the shape that shuffles
    ~100 B/row worst-case at 100 TB."""
    from pyspark.sql import functions as F  # noqa: F811

    from sparkval import histograms
    from sparkval.config import ValidationConfig
    from sparkval.constraints import violations_from_row_partials

    # ids k and k + 250 share (repo, path, commit): 250 planted
    # duplicate keys, two rows each
    corpus = spark.range(0, 500).select(
        F.concat(F.lit("r"), (F.col("id") % 250 % 7).cast("string")).alias("repo"),
        (F.col("id") % 250).cast("string").alias("path"),
        F.lit("c0").alias("commit"),
        F.lit("python").alias("lang"),
        F.sha2(F.col("id").cast("string"), 256).alias("content"),
    )
    commits = corpus.select("repo", "commit").distinct()
    rows = histograms.split_fused(
        histograms.fused_scan_partials(corpus, ValidationConfig())
    )[1]
    out = violations_from_row_partials(rows, commits)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # dup-key + commits sides
    # closed form: both rows of every duplicated key, nothing else
    assert out.count() == 500
    assert out.filter(F.col("check") != "uniqueness").count() == 0


def _node(line: str) -> str:
    """A plan tree line without its tree-drawing prefix."""
    return line.lstrip(" :+-")


def test_violation_finalize_one_probe_filter_first_hash_last(spark, corpus_pair):
    """Both row-violation entries share one body: ONE probe scan of the
    rows (plus the narrow duplicate-key aggregation), the fired-check
    Filter BEFORE the Generate (explode), and sha256 only ABOVE the
    Generate — so only violating rows are hashed."""
    from sparkval import histograms
    from sparkval.config import ValidationConfig
    from sparkval.constraints import all_violations, violations_from_row_partials

    _, snap, commits = corpus_pair
    # checkpointed sources scan as "Scan ExistingRDD" (a local relation
    # would be a LocalTableScan, as commits stays), so the count below
    # sees exactly the reads of the rows being checked
    snap = snap.localCheckpoint()
    plan = all_violations(snap, commits)._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    gen = next(i for i, ln in enumerate(lines) if _node(ln).startswith("Generate"))
    assert all(i < gen for i, ln in enumerate(lines) if "sha2(" in ln), plan
    join = next(
        i for i, ln in enumerate(lines)
        if i > gen and _node(ln).startswith("BroadcastHashJoin")
    )
    assert any(_node(ln).startswith("Filter") for ln in lines[gen + 1:join]), plan
    assert len(re.findall(r"Scan ExistingRDD", plan)) == 2, plan  # key agg + probe

    rows = histograms.split_fused(
        histograms.fused_scan_partials(snap, ValidationConfig())
    )[1].localCheckpoint()
    plan = (
        violations_from_row_partials(rows, commits)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Scan ExistingRDD", plan)) == 2, plan  # key agg + probe


def test_decontaminate_plan_broadcasts_benchmark_no_corpus_shuffle(spark, sf_dir):
    """Decontamination plan shape: the benchmark gram set broadcasts
    into a LEFT SEMI probe and the contaminated-id set broadcasts into
    the LEFT ANTI — corpus grams and corpus rows never sort-merge
    (their shuffle would be the scale killer: grams are ~100x corpus
    rows)."""
    from sparkval.pipeline.dedup import decontaminate

    docs = load(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 50 == 5).select("doc_id", "text")
    plan = (
        decontaminate(docs, benchmark, n=13)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan  # pure codegen gram stream


def test_gopher_and_pii_are_pure_codegen(spark, sf_dir):
    """The quality/PII passes must run at scan speed: no python stage
    of any kind in the plan, and the scan pruned to the columns used."""
    from sparkval.pipeline.text import with_gopher_quality, with_pii_stats

    docs = load(spark, sf_dir, "documents")
    for op in (with_gopher_quality, with_pii_stats):
        plan = (
            op(docs).select("doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan, op.__name__
        assert "ArrowEvalPython" not in plan, op.__name__
        assert "Exchange" not in plan, op.__name__  # projection: no shuffle


def test_pack_sequences_no_python_no_global_sort(spark, sf_dir):
    """Sequence packing is pure SQL (windows + one broadcast of the
    O(groups x 4096) bucket-start table): no python stage, no
    cartesian, and no global single-partition sort."""
    from sparkval.pipeline.sampling import pack_sequences

    docs = load(spark, sf_dir, "documents")
    plan = (
        pack_sequences(docs, ctx_tokens=512, group_col="lang")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # bucket starts broadcast back


def test_dedupe_against_returned_plan_is_broadcast_anti(spark):
    """The plan handed back to the caller must be scan + broadcast
    LEFT ANTI on the (checkpointed, tiny) hit set — no sort-merge, no
    python stage; corpus content moves zero times."""
    from sparkval.pipeline.dedup import dedupe_against

    corpus = spark.createDataFrame(
        [(i, f"text number {i} alpha{i} beta{i} " * 6) for i in range(50)],
        ["doc_id", "text"],
    )
    ref = spark.createDataFrame([(900, corpus.collect()[4]["text"])],
                                ["doc_id", "text"])
    plan = (
        dedupe_against(corpus, ref)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_decontaminate_probe_and_verify_are_jvm_side(spark, sf_dir):
    """Bloom decontamination plan shape: (a) the gram probe is pure
    JVM expressions over a 1-row broadcast filter — no BatchEvalPython
    in the probe stage (the only Python in the op is the Arrow-batched
    filter BUILD, which runs once over the small benchmark side); (b)
    the exact-verify phase broadcasts the candidate-id and benchmark-
    hash sets — corpus grams never sort-merge."""
    import pandas as pd

    from sparkval import bloom
    from sparkval.stats import bloom_h0_contains_expr, bloom_h0_expr

    docs = load(spark, sf_dir, "documents")
    filt = spark.createDataFrame(
        pd.DataFrame([{"filter": bloom.add(bloom.empty_filter(), ["probe"])}])
    )
    toks = F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 12),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 13)),
        )
    )
    probe = (
        docs.filter(F.size(toks) >= 13)
        .select("doc_id", grams.alias("_grams"))
        .crossJoin(F.broadcast(filt))
        .select(
            "doc_id",
            F.size(
                F.filter("_grams", lambda g: bloom_h0_contains_expr(bloom_h0_expr(g), "filter"))
            ).alias("bloom_hits"),
        )
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan

    from sparkval.pipeline.dedup import bloom_decontaminate

    bench = docs.filter(F.col("doc_id") % 50 == 5).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 50 != 5)
    report = bloom_decontaminate(corpus, bench, n=13)
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_no_row_shuffle(spark, sf_dir):
    """BM25 plan shape: per-term tf dies in the scan projection
    (higher-order filter, no explode shuffle) and the only exchange
    feeds the scalar stats row — no SortMergeJoin, no per-row Python,
    the stats side broadcasts."""
    from sparkval.pipeline.text import bm25_scores

    docs = load(spark, sf_dir, "documents")
    plan = (
        bm25_scores(docs, ["hash", "join"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats crossJoin


def test_round5_session2_ops_plan_discipline(spark, sf_dir):
    """One sweep over the new operators' physical plans: no per-row
    Python (BatchEvalPython), no CartesianProduct on data, and no
    SortMergeJoin where a broadcast is the designed shape. (The 1-row
    broadcast crossJoins show up as BroadcastNestedLoopJoin — bounded
    by construction, not asserted against.)"""
    from sparkval.pipeline.text import boilerplate_lines, pmi_bigrams
    from sparkval.stats import skew_report, zipf_fit

    docs = load(spark, sf_dir, "documents")
    plans = {
        "pmi": pmi_bigrams(docs, min_count=2),
        "boilerplate": boilerplate_lines(docs),
        "zipf": zipf_fit(docs, n_ranks=20),
        "skew": skew_report(docs.select("source"), ["source"]),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_round5_session3_ops_plan_discipline(spark, sf_dir):
    """Plan sweep for this session's operators: no per-row Python, no
    cartesian, no sort-merge join where none is designed. ks/benford/
    chi2/fd/rate_limit/seasonal are pure built-ins (window + hash agg
    over collapsed tables); rule_suite is ONE aggregate; normalize is
    map-only Arrow."""
    from sparkval.constraints import (
        fd_check,
        rate_limit_violations,
        rule_suite,
    )
    from sparkval.pipeline.events import seasonal_anomaly
    from sparkval.pipeline.text import with_normalized_text
    from sparkval.stats import benford_report, chi2_independence, ks_drift

    docs = load(spark, sf_dir, "documents")
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    plans = {
        "ks": ks_drift(
            docs.select("source", "n_chars"),
            docs.select("source", "n_chars"),
            "n_chars",
            group_col="source",
        ),
        "benford": benford_report(orders, "o_totalprice", "o_orderpriority"),
        "chi2": chi2_independence(docs, "lang", "source"),
        "fd": fd_check(docs, ["source"], "lang"),
        "rate": rate_limit_violations(ev, max_events=2),
        "seasonal": seasonal_anomaly(ev),
        "suite": rule_suite(docs, {"t": F.col("text").isNotNull()}),
        "normalize": with_normalized_text(docs.select("doc_id", "text")),
    }
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
        if name == "normalize":
            assert "ArrowEvalPython" in plan, name  # the NFC arrow_udf


def test_seasonal_anomaly_windows_run_after_collapse(spark, sf_dir):
    """The season window must partition the O(types x hours) hourly
    table, not raw events: exactly one pre-window aggregate collapses
    the scan, and the Window's partition spec is on the group + hour
    expression."""
    from sparkval.pipeline.events import seasonal_anomaly

    ev = load(spark, sf_dir, "events")
    plan = (
        seasonal_anomaly(ev)._jdf.queryExecution().optimizedPlan().toString()
    )
    # Aggregate below Window in the tree (window input is aggregated)
    assert plan.index("Window") < plan.index("Aggregate"), plan


def test_rule_suite_single_scan_of_source(spark, sf_dir):
    """Six rules, one FileScan: the suite must not multiply scans."""
    from sparkval.constraints import rule_suite

    docs = load(spark, sf_dir, "documents")
    rules = {f"r{i}": F.col("n_chars") > i * 10 for i in range(6)}
    plan = (
        rule_suite(docs, rules)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1, plan
