"""The two workloads: inputs, one timed run, output checks, layer replay.

Lifecycle, driven by run.py:

- ``generate()`` — seeded inputs to parquet under the work dir (no Spark);
- ``attach(spark)`` — DataFrames over those files (again after a
  session restart);
- ``seed_state()`` — the persisted baseline;
- per iteration: ``prepare(i)`` and ``restore(i)`` untimed around the
  timed ``run_once(i)``, then ``check(out, i)`` on its outputs;
- ``trace(tracer)`` — replays one run layer by layer, each call forced
  on materialized inputs, for the per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen

# layer -> "spark" (runs jobs; event-log measures) or "local" (runs in
# this Python process, no job)
LAYERS = {
    "schema.check_corpus_schema": "local",
    "io.fs_file_statuses": "local",
    "baseline.build_baseline": "spark",
    "histograms.partial_histograms": "spark",
    "histograms.fused_scan_partials": "spark",
    "histograms.merge_histograms_with_lang": "spark",
    "drift.drift_verdicts_joined": "spark",
    "kernels.drift_score_batch": "local",
    "constraints.all_violations": "spark",
    "constraints.violations_from_row_partials": "spark",
    "stats.column_stats": "spark",
    "stats.length_tdigests": "spark",
    "stats.distinct_sketches": "spark",
    "tdigest.digest_from_values": "local",
    "pipeline.dedup.near_duplicates_levenshtein": "spark",
    "pipeline.dedup.connected_components": "spark",
    "pipeline.dedup.keep_canonical_from_pairs": "spark",
    "pipeline.dedup.near_duplicates_minhash": "spark",
    "pipeline.similarity.near_duplicates_cosine": "spark",
}


def _checkpoint(df):
    return df.localCheckpoint(eager=True)


def _count(df) -> int:
    return df.count()


def _same(x):
    return x


class Workload:
    name = ""
    rows_unit = ""
    #: (files in the snapshot, files recomputed) of the last
    #: incremental revalidation; (0, 0) where there is none
    file_counts = (0, 0)
    #: wall time of each phase of the last run, where it has phases
    phase_s: dict = {}

    def __init__(self, seed: int, scale: gen.Scale, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.spark = None

    def seed_state(self) -> None:
        pass

    def prepare(self, i: int) -> None:
        pass

    def restore(self, i: int) -> None:
        pass


class ValidateSnapshot(Workload):
    """The engine's production loop, one baseline and many snapshots.
    Each run, on one seeded corpus snapshot:

    1. ``ValidationEngine.validate`` against the persisted baseline,
       forcing verdicts and violations;
    2. the profile: ``stats.column_stats``, ``stats.length_tdigests``,
       ``stats.distinct_sketches`` rolled up by ``merge_distinct_sketches``;
    3. ``validate_incremental`` over a copy of the snapshot's data
       files, one of which was rewritten (untimed) before the run;
       the per-file partial cache starts every run in the state the
       warm-up run left it: every original file cached.
    """

    name = "validate_snapshot"
    rows_unit = "files"
    n_churn = 1
    #: the largest sketch error (t-digest quantile or HLL estimate,
    #: relative to the exact value) a run may show and still pass. HLL
    #: at lg_k=12 alone has ~1.6% standard error, and a p99 over a
    #: ~250-file partition reached 5.3% on one seed
    max_sketch_err = 0.10

    def __init__(self, seed, scale, work):
        from sparkval.config import ValidationConfig

        super().__init__(seed, scale, work)
        self.cfg = ValidationConfig()

    # -- inputs --------------------------------------------------------------
    def generate(self) -> None:
        c = gen.make_corpus(self.seed, self.scale)
        self.corpus = c
        self.truth = gen.corpus_truth(c)
        self.rows = len(c.snapshot)
        w = self.work
        self.snap_dir = os.path.join(w, "snapshot")
        gen.write_parquet_files(c.snapshot, c.file_of_row, self.snap_dir, self.scale.n_data_files)
        self.base_src = os.path.join(w, "baseline_corpus.parquet")
        gen.write_one(c.baseline, self.base_src)
        self.commits_path = os.path.join(w, "commits.parquet")
        c.commits.to_parquet(self.commits_path, index=False)
        self.baseline_dir = os.path.join(w, "baseline")
        # the incremental path gets its own copy of the data files (the
        # live copy churns; the validate/profile snapshot never changes),
        # plus each file's churned rewrite: 5 clean rows nulled
        self.live_dir = os.path.join(w, "live")
        self.orig_dir = os.path.join(w, "orig")
        self.churn_dir = os.path.join(w, "churned")
        for d in (self.live_dir, self.orig_dir, self.churn_dir):
            os.makedirs(d)
        self.files = sorted(os.listdir(self.snap_dir))
        self.mtime_ns = []
        for fi, name in enumerate(self.files):
            live = os.path.join(self.live_dir, name)
            shutil.copyfile(os.path.join(self.snap_dir, name), live)
            shutil.copyfile(live, os.path.join(self.orig_dir, name))
            self.mtime_ns.append(os.stat(live).st_mtime_ns)
            rows = c.snapshot[c.file_of_row == fi].copy()
            rows.loc[c.churn_rows[fi], "content"] = None
            gen.write_one(rows, os.path.join(self.churn_dir, name))
        self.cache_dir = os.path.join(w, "cache")
        self.part_dir = os.path.join(self.cache_dir, "file_partials")

    def attach(self, spark) -> None:
        from sparkval.engine import ValidationEngine

        self.spark = spark
        self.engine = ValidationEngine(self.cfg)
        self.snapshot = spark.read.parquet(self.snap_dir)
        self.commits = spark.read.parquet(self.commits_path)
        if os.path.isdir(self.baseline_dir):
            self.baseline = spark.read.parquet(self.baseline_dir)

    def seed_state(self) -> None:
        """Persist the baseline. The partial cache is filled by the
        warm-up run (iteration -1), which starts from an empty cache."""
        self.engine.build_baseline(self.spark.read.parquet(self.base_src)).write.mode(
            "overwrite").parquet(self.baseline_dir)
        self.baseline = self.spark.read.parquet(self.baseline_dir)

    # -- churn ---------------------------------------------------------------
    def churned(self, i: int) -> list[int]:
        if i < 0:
            return []
        rng = np.random.default_rng([self.seed, 3, i])
        return sorted(rng.choice(len(self.files), size=self.n_churn, replace=False).tolist())

    def _swap_in(self, src_dir: str, fi: int, mtime_ns: int) -> None:
        live = os.path.join(self.live_dir, self.files[fi])
        shutil.copyfile(os.path.join(src_dir, self.files[fi]), live)
        os.utime(live, ns=(mtime_ns, mtime_ns))

    def prepare(self, i: int) -> None:
        for fi in self.churned(i):
            self._swap_in(self.churn_dir, fi, self.mtime_ns[fi] + (i + 1) * 10**12)

    def restore(self, i: int) -> None:
        """Back to the seeded cache state: original bytes and mtimes
        (so their cached partials hit again), new partials removed."""
        for fi in self.churned(i):
            self._swap_in(self.orig_dir, fi, self.mtime_ns[fi])
        if i < 0:
            self.seeded = set(os.listdir(self.part_dir))
        for d in set(os.listdir(self.part_dir)) - self.seeded:
            shutil.rmtree(os.path.join(self.part_dir, d))

    # -- one run -------------------------------------------------------------
    @staticmethod
    def _force(out: dict) -> dict:
        return {
            "verdicts": out["verdicts"].select("repo_bucket", "lang", "verdict").collect(),
            "violations": out["violations"].select("check", "repo", "path", "commit").collect(),
        }

    def run_once(self, i: int) -> dict:
        from sparkval import stats

        t0 = time.perf_counter()
        out = {"validate": self._force(
            self.engine.validate(self.snapshot, self.baseline, self.commits))}
        t1 = time.perf_counter()
        sk = _checkpoint(stats.distinct_sketches(self.snapshot, "path", ["repo", "lang"]))
        out.update({
            "column_stats": stats.column_stats(self.snapshot).collect(),
            "tdigests": stats.length_tdigests(self.snapshot, self.cfg).select(
                "repo_bucket", "lang", "len_p50", "len_p90", "len_p99").collect(),
            "hll_lang": stats.merge_distinct_sketches(sk, ["lang"]).collect(),
            "hll_all": stats.merge_distinct_sketches(sk).collect(),
        })
        t2 = time.perf_counter()
        inc = self.engine.validate_incremental(
            self.live_dir, self.baseline, self.cache_dir, self.commits)
        out["incremental"] = self._force(inc)
        self.phase_s = {"validate": t1 - t0, "profile": t2 - t1,
                        "incremental": time.perf_counter() - t2}
        self.file_counts = (inc["n_files_total"], inc["n_files_recomputed"])
        out["file_counts"] = self.file_counts
        return out

    # -- output checks -------------------------------------------------------
    def _check_validate(self, what: str, out: dict, expected_nulls: int) -> list[str]:
        fails = []
        counts: dict[str, int] = {}
        for r in out["violations"]:
            counts[r["check"]] = counts.get(r["check"], 0) + 1
        want = dict(self.truth["violations"], null_required=expected_nulls)
        if counts != want:
            fails.append(f"{what}: violation counts {counts} != planted {want}")
        non_pass = sorted((r["repo_bucket"], r["lang"]) for r in out["verdicts"]
                          if r["verdict"] != "PASS")
        if non_pass != self.truth["non_pass"]:
            fails.append(f"{what}: non-PASS partitions {non_pass} != drifted "
                         f"{self.truth['non_pass']}")
        return fails

    def sketch_err(self, out: dict) -> float:
        t = self.truth
        errs = [0.0]
        for r in out["tdigests"]:
            exact = t["quantiles"][(r["repo_bucket"], r["lang"])]
            est = np.array([r["len_p50"], r["len_p90"], r["len_p99"]])
            errs.extend(np.abs(est - exact) / exact)
        for r in out["hll_lang"]:
            exact = t["per_lang"][r["lang"]]["distinct_paths"]
            errs.append(abs(r["distinct_estimate"] - exact) / exact)
        exact = t["distinct_paths"]
        errs.append(abs(out["hll_all"][0]["distinct_estimate"] - exact) / exact)
        return float(max(errs))

    def quality(self, out: dict) -> dict:
        return {"sketch_rel_err": self.sketch_err(out)}

    def check(self, out: dict, i: int) -> list[str]:
        t, c = self.truth, self.corpus
        fails = self._check_validate("validate", out["validate"], c.n_null)
        churn = self.churned(i)
        nulls = c.n_null + sum(len(c.churn_rows[f]) for f in churn)
        fails += self._check_validate("validate_incremental", out["incremental"], nulls)
        want = (len(self.files), len(churn) if i >= 0 else len(self.files))
        if out["file_counts"] != want:
            fails.append(f"(files, recomputed) {out['file_counts']} != {want}")
        cols = ("n_rows", "n_null_content", "len_min", "len_max")
        got = {r["lang"]: {k: r[k] for k in cols} for r in out["column_stats"]}
        want = {lg: {k: v[k] for k in cols} for lg, v in t["per_lang"].items()}
        if got != want:
            fails.append(f"column_stats {got} != exact {want}")
        keys = sorted((r["repo_bucket"], r["lang"]) for r in out["tdigests"])
        if keys != sorted(t["quantiles"]):
            fails.append("t-digest partitions differ from the snapshot's (bucket, lang) set")
        elif (err := self.sketch_err(out)) > self.max_sketch_err:
            fails.append(f"sketch_rel_err {err:.4f} > {self.max_sketch_err}")
        return fails

    # -- layer replay --------------------------------------------------------
    def _trace_scoring(self, tracer, snap_hists) -> None:
        from sparkval import kernels
        from sparkval.drift import joined_hists

        # _score_hists is validate()'s own join + shortcut + scoring
        # tail; the joins are over two materialized partition tables
        tracer.call("drift.drift_verdicts_joined",
                    lambda: self.engine._score_hists(self.baseline, snap_hists),
                    _checkpoint, _count)
        pdf = joined_hists(self.baseline, snap_hists).toPandas()
        bins = {"byte": 256, "len": 64, "lang": 9}

        def mat(side: str, ch: str) -> np.ndarray:
            return np.stack([np.zeros(bins[ch]) if v is None else np.asarray(v, np.float64)
                             for v in pdf[f"{side}_{ch}"]])

        base = {ch: mat("b", ch) for ch in bins}
        snap = {ch: mat("s", ch) for ch in bins}
        tracer.call("kernels.drift_score_batch",
                    lambda: kernels.drift_score_batch(
                        base, snap, intensity_factor=self.cfg.intensity_factor),
                    _same, lambda r: len(r[0]))

    def trace(self, tracer) -> None:
        from pyspark.sql import functions as F

        from sparkval import constraints, histograms, io, schema, stats, tdigest

        # 1. validate
        tracer.call("schema.check_corpus_schema",
                    lambda: schema.check_corpus_schema(self.snapshot), _same)
        parts = tracer.call("histograms.partial_histograms",
                            lambda: histograms.partial_histograms(self.snapshot, self.cfg),
                            _checkpoint, _count)
        hists = tracer.call("histograms.merge_histograms_with_lang",
                            lambda: histograms.merge_histograms_with_lang(parts),
                            _checkpoint, _count)
        self._trace_scoring(tracer, hists)
        tracer.call("constraints.all_violations",
                    lambda: constraints.all_violations(self.snapshot, self.commits),
                    _checkpoint, _count)

        # 2. profile
        tracer.call("stats.column_stats", lambda: stats.column_stats(self.snapshot),
                    _checkpoint, _count)
        tracer.call("stats.length_tdigests",
                    lambda: stats.length_tdigests(self.snapshot, self.cfg),
                    _checkpoint, _count)

        def sketches():
            sk = _checkpoint(stats.distinct_sketches(self.snapshot, "path", ["repo", "lang"]))
            return stats.merge_distinct_sketches(sk, ["lang"])

        tracer.call("stats.distinct_sketches", sketches, lambda df: df.collect(), len)
        lengths = self.corpus.snapshot["content"].str.len().dropna().to_numpy(np.float64)
        tracer.call("tdigest.digest_from_values",
                    lambda: tdigest.digest_from_values(lengths), _same, lambda d: len(d) // 2)

        # 3. incremental revalidation of the churned live copy
        self.prepare(0)
        try:
            tracer.call("io.fs_file_statuses",
                        lambda: io.fs_file_statuses(self.spark, self.live_dir), _same, len)
            probe = self.spark.read.parquet(self.live_dir)
            tracer.call("schema.check_corpus_schema",
                        lambda: schema.check_corpus_schema(probe), _same)
            # the churned files' partials, committed the way the engine
            # commits them, to a side dir so the seeded cache stays as is
            side = os.path.join(self.work, "trace_partials")
            for fi in self.churned(0):
                dest = os.path.join(side, f"file={fi}")
                src = os.path.join(self.live_dir, self.files[fi])
                tracer.call(
                    "histograms.fused_scan_partials",
                    lambda: histograms.fused_scan_partials(
                        self.spark.read.schema(probe.schema).parquet(src), self.cfg),
                    lambda df: df.write.mode("overwrite").partitionBy("kind").parquet(dest),
                    lambda _: self.spark.read.parquet(dest).count())
            shutil.rmtree(side)
        finally:
            self.restore(0)
        committed = self.spark.read.parquet(self.part_dir)
        hist_names = [f.name for f in histograms.PARTIAL_SCHEMA.fields]
        hists = tracer.call(
            "histograms.merge_histograms_with_lang",
            lambda: histograms.merge_histograms_with_lang(
                committed.filter(F.col("kind") == "h").select(*hist_names)),
            _checkpoint, _count)
        self._trace_scoring(tracer, hists)
        tracer.call(
            "constraints.violations_from_row_partials",
            lambda: constraints.violations_from_row_partials(
                committed.filter(F.col("kind") == "r").select(
                    "repo", "path", "commit", "content_sha256", "null_detail"),
                self.commits),
            _checkpoint, _count)

        # set-up layer
        tracer.call("baseline.build_baseline",
                    lambda: self.engine.build_baseline(self.spark.read.parquet(self.base_src)),
                    _checkpoint, _count)


class DedupCorpus(Workload):
    """The curation user: near-duplicate pairs over documents (minhash)
    and embeddings (cosine LSH), and the levenshtein dedupe that keeps
    one canonical document per cluster."""

    name = "dedup_corpus"
    rows_unit = "documents"
    min_recall = 0.95

    def generate(self) -> None:
        d = gen.make_dedup(self.seed, self.scale)
        self.inputs = d
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.vecs_path = os.path.join(self.work, "embeddings.parquet")
        d.docs.to_parquet(self.docs_path, index=False)
        d.vecs.to_parquet(self.vecs_path, index=False)
        self.rows = len(d.docs)
        typo_copies = {b for _, b in d.typo_pairs}
        self.want_kept = sorted(set(d.docs["doc_id"].tolist()) - typo_copies)

    def attach(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)
        self.vecs = spark.read.parquet(self.vecs_path)

    def run_once(self, i: int) -> dict:
        from sparkval.pipeline import dedup, similarity

        t0 = time.perf_counter()
        out = {"minhash": dedup.near_duplicates_minhash(self.docs).select("a", "b").collect()}
        t1 = time.perf_counter()
        out["cosine"] = similarity.near_duplicates_cosine(self.vecs).select("a", "b").collect()
        t2 = time.perf_counter()
        out["kept"] = dedup.dedupe_near_duplicates(
            self.docs, method="levenshtein").select("doc_id").collect()
        self.phase_s = {"minhash": t1 - t0, "cosine": t2 - t1,
                        "levenshtein_dedupe": time.perf_counter() - t2}
        return out

    def quality(self, out: dict) -> dict:
        """Planted pairs found over pairs planted, across the three
        detectors (a levenshtein pair counts as found when its copy
        was dropped)."""
        d = self.inputs
        mh = {(r["a"], r["b"]) for r in out["minhash"]}
        cos = {(r["a"], r["b"]) for r in out["cosine"]}
        kept = {r["doc_id"] for r in out["kept"]}
        text_pairs = d.typo_pairs | d.corrupt_pairs
        found = (len(text_pairs & mh) + len(d.vec_pairs & cos)
                 + sum(1 for _, b in d.typo_pairs if b not in kept))
        planted = len(text_pairs) + len(d.vec_pairs) + len(d.typo_pairs)
        return {"dup_recall": found / planted, "dup_pairs_planted": planted,
                "kept": len(kept)}

    def check(self, out: dict, i: int) -> list[str]:
        fails = []
        kept = sorted(r["doc_id"] for r in out["kept"])
        if kept != self.want_kept:
            fails.append(f"levenshtein dedupe kept {len(kept)} docs, want {len(self.want_kept)}")
        recall = self.quality(out)["dup_recall"]
        if recall < self.min_recall:
            fails.append(f"dup_recall {recall:.4f} < {self.min_recall}")
        return fails

    def trace(self, tracer) -> None:
        from sparkval.pipeline import dedup, similarity

        pairs = tracer.call("pipeline.dedup.near_duplicates_levenshtein",
                            lambda: dedup.near_duplicates_levenshtein(self.docs, max_dist=4),
                            _checkpoint, _count)
        tracer.call("pipeline.dedup.connected_components",
                    lambda: dedup.connected_components(pairs, "a", "b"), _checkpoint, _count)
        # includes its own connected_components call over the same pairs
        tracer.call("pipeline.dedup.keep_canonical_from_pairs",
                    lambda: dedup.keep_canonical_from_pairs(self.docs, pairs, "doc_id"),
                    _checkpoint, _count)
        tracer.call("pipeline.dedup.near_duplicates_minhash",
                    lambda: dedup.near_duplicates_minhash(self.docs), _checkpoint, _count)
        tracer.call("pipeline.similarity.near_duplicates_cosine",
                    lambda: similarity.near_duplicates_cosine(self.vecs), _checkpoint, _count)


WORKLOADS = {w.name: w for w in (ValidateSnapshot, DedupCorpus)}
