"""ValidationEngine — orchestration, short-circuit, resume, lineage.

The engine's run shape mirrors the reference's top entry
(lib.rs:699-759): validate config -> schema checks -> short-circuit ->
kernel -> finalize, with the strip walker's bounded-memory /
cancellable execution (strip.rs:491-581) recast as committed partials:
``validate_strips`` commits each strip's partials atomically, and a
resumed run skips every committed strip, scan included. One job-group
fence (``_fenced``) carries the cancellation policy of every
cancellable entry point.

Outputs per run:
  verdicts   — per-(repo_bucket, lang) drift scores + PASS/WARN/FAIL
  violations — row-level constraint failures, deterministically ordered
  metrics    — per-run lineage: counts, config echo, per-check stats
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import itertools
import json
import threading
import time
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkval import constraints, histograms, io
from sparkval.baseline import build_baseline
from sparkval.config import ValidationConfig
from sparkval.drift import drift_verdicts_joined, joined_hists
from sparkval.schema import check_corpus_schema

#: fused single-scan tables persisted by validate(single_scan=True) —
#: both returned DataFrames (verdicts, violations) read them, so the
#: cache must outlive the call; ownership lives here (the
#: pipeline.dedup lazy-cache discipline) and release_scan_caches()
#: drains it.
_SCAN_CACHES: list[DataFrame] = []


def release_scan_caches() -> int:
    """Unpersist fused scan tables left cached by
    validate(single_scan=True). Call after consuming a validate
    result in a long-lived session (the driver entry queries and the
    bench harness do; clearCache()/session exit also work). Returns
    the number of tables released."""
    n = 0
    while _SCAN_CACHES:
        df = _SCAN_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped
            pass
    return n


def _read_units(spark: SparkSession, root: str, part_col: str, ids: list[str]) -> DataFrame:
    """Committed partials of exactly ``ids``: partition-discover the
    ``<part_col>=<id>`` dirs under ``root``, then prune to the id set —
    any other unit committed there is never opened."""
    return spark.read.parquet(root).filter(F.col(part_col).isin(ids))


class ValidationCancelled(RuntimeError):
    """Raised by validate_with_stop / validate_strips when their token
    was cancelled — the Cancelled(StopReason) analog (lib.rs:699-706)."""

    def __init__(self, reason: str | None):
        super().__init__(reason or "cancelled")
        self.reason = reason


class CancellationToken:
    """Cooperative cancellation scoped to a Spark job group — the
    enough::Stop analog (lib.rs:699-706). ``cancel()`` may be called
    from any thread: every Spark job the guarded run has in flight is
    cancelled (running tasks interrupted), and the run raises
    ValidationCancelled. Where the reference polls its token at strip
    boundaries (strip.rs:510-513), Spark's scheduler is the poller —
    job-group cancellation reaches straight into running stages."""

    _seq = itertools.count()

    def __init__(self, spark: SparkSession, group: str | None = None):
        self._sc = spark.sparkContext
        self.group = group or f"sparkval-stop-{next(self._seq)}"
        self.reason: str | None = None
        self._cancelled = threading.Event()

    def cancel(self, reason: str = "cancelled") -> None:
        self.reason = reason
        self._cancelled.set()
        # cancelJobGroupAndFutureJobs (Spark 3.5+) also fences jobs the
        # run hasn't submitted yet — plain cancelJobGroup only reaches
        # jobs active at this instant, racing a cancel fired while the
        # driver is still planning
        jsc = getattr(self._sc, "_jsc", None)
        if jsc is not None and hasattr(jsc.sc(), "cancelJobGroupAndFutureJobs"):
            jsc.sc().cancelJobGroupAndFutureJobs(self.group)
        else:  # pragma: no cover - older Spark
            self._sc.cancelJobGroup(self.group)

    @property
    def cancelled(self) -> bool:
        return self._cancelled.is_set()


@contextlib.contextmanager
def _fenced(spark: SparkSession, stop: CancellationToken | None, description: str):
    """Run the block's Spark jobs inside ``stop``'s job group (a no-op
    without a token). The entry poll refuses a pre-cancelled token:
    cancelJobGroup only reaches live jobs (lib.rs:707). A failure while
    the token is cancelled surfaces as ValidationCancelled, and the
    thread's job-group properties are cleared on the way out."""
    if stop is None:
        yield
        return
    if stop.cancelled:
        raise ValidationCancelled(stop.reason)
    sc = spark.sparkContext
    sc.setJobGroup(stop.group, description, interruptOnCancel=True)
    try:
        yield
    except ValidationCancelled:
        raise
    except Exception as e:
        if stop.cancelled:
            raise ValidationCancelled(stop.reason) from e
        raise
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


class ValidationEngine:
    def __init__(self, config: ValidationConfig | None = None):
        self.config = config or ValidationConfig()
        self.config.validate()

    # -- baseline ----------------------------------------------------------
    def build_baseline(self, corpus: DataFrame) -> DataFrame:
        check_corpus_schema(corpus)
        return build_baseline(corpus, self.config)

    # -- one-shot validation ------------------------------------------------
    def validate(
        self,
        snapshot: DataFrame,
        baseline: DataFrame,
        commits: DataFrame | None = None,
        expected_manifest: DataFrame | None = None,
        single_scan: bool | None = None,
    ) -> dict[str, DataFrame]:
        """Full validation of a snapshot against a baseline table.

        ``expected_manifest``: optional (repo, path, commit,
        content_sha256) table from a reference engine run — enables the
        per-row sha256 invariant check (BASELINE.json input_hint).

        ``single_scan=True`` (round 5): reads the content column ONCE
        — a fused Arrow kernel emits histogram partials and the narrow
        per-row check partials (sha256 of EVERY row included) from the
        same scan (histograms.fused_scan_partials); the fused table
        (tiny: ~100 B/row) is persisted and both outputs derive from
        it. Outputs are bit-identical to the classic two-plan shape
        (parity-tested both ways).

        Default is AUTO, from the measured cost model (sf0.1,
        local[32], BENCH.md round 5): with ``expected_manifest`` the
        classic shape hashes every row in a second content pass, so
        fusing saves that pass (~1.2x faster) -> fused. WITHOUT the
        manifest the classic violations plan never reads content for
        non-violating rows (uniqueness shuffles 3 key columns;
        parquet prunes the rest), so the "second scan" it avoids is
        mostly free while the fusion pays full-corpus sha256 + the
        Arrow pass-through (~8% slower) -> classic. The persisted
        fused table is registered with ``release_scan_caches()``;
        long-lived sessions call it (or clearCache) after consuming
        the outputs.
        """
        check_corpus_schema(snapshot)
        cfg = self.config

        if single_scan is None:
            single_scan = expected_manifest is not None
        if single_scan:
            # release any fused table a PREVIOUS validate() left cached
            # before persisting a new one: direct callers in long-lived
            # sessions otherwise accrete one cached table per call
            # (ADVICE r5). Unpersist never invalidates an outstanding
            # result DataFrame — a late consumer just recomputes
            # uncached.
            release_scan_caches()
            fused = histograms.fused_scan_partials(snapshot, cfg).persist()
            _SCAN_CACHES.append(fused)
            return self._finalize(
                baseline, *histograms.split_fused(fused), commits, expected_manifest
            )

        out = self._finalize(baseline, histograms.partial_histograms(snapshot, cfg))
        out["violations"] = constraints.all_violations(
            snapshot, commits, expected_manifest
        )
        return out

    def _finalize(
        self,
        baseline: DataFrame,
        hist_partials: DataFrame,
        row_partials: DataFrame | None = None,
        commits: DataFrame | None = None,
        expected_manifest: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Partials -> results: the one finalize behind every validate
        path (the StripReducer finalize, strip.rs:126-209).

        ``hist_partials`` are PARTIAL_SCHEMA rows from any split of the
        corpus — per task, strip or data file. The histograms are a
        mergeable monoid, so the split never changes the result: one
        ``merge_histograms_with_lang`` shuffle, then the baseline join
        and scoring kernel. The verdict table is O(buckets x langs):
        ``deterministic_order`` sorts it in one partition, not with a
        global orderBy (whose range-partition sampling pass would
        re-execute the whole scan lineage).

        With ``row_partials`` (the narrow per-row check columns of a
        fused table, ``histograms.split_fused``) every row-level
        violation is finalized too, from those columns alone — content
        is never read again after the partials exist."""
        verdicts = self._score_hists(
            baseline, histograms.merge_histograms_with_lang(hist_partials)
        )
        out = {
            "verdicts": constraints.deterministic_order(verdicts, ["repo_bucket", "lang"])
        }
        if row_partials is not None:
            out["violations"] = constraints.violations_from_row_partials(
                row_partials, commits, expected_manifest
            )
        return out

    def _score_hists(self, baseline: DataFrame, snap_hists: DataFrame) -> DataFrame:
        """Join a snapshot hist table against the baseline and score it
        (shared by validate() and the strip walker — any path that
        produced the same hist table gets bit-identical verdicts)."""
        cfg = self.config
        joined = joined_hists(baseline, snap_hists)
        if cfg.short_circuit_identical and "b_fingerprint" in joined.columns:
            # Identical partitions score 0 by definition
            # (diff.rs:766-772) and skip the kernel — but ONLY if the
            # enclosing bucket is also unchanged: the lang-mix channel
            # is bucket-wide, so a lang relabel elsewhere in the bucket
            # changes this partition's true score even when its own
            # contents match. XOR of disjoint partition fingerprints =
            # bucket fingerprint.
            #
            # Plan shape: the predicate is computed with WINDOW
            # aggregates over the single full-outer join (one extra
            # exchange on repo_bucket), and the shortcut itself fires
            # INSIDE the scoring kernel — versus the previous
            # formulation's 2 groupBys + 4 joins + union of branches.
            # The tables are O(buckets x langs) rows: fixed stage
            # latency, not data volume, is what those extra stages cost
            # at any cluster size.
            from pyspark.sql import Window

            w = Window.partitionBy("repo_bucket")
            row_same = (
                F.col("fingerprint").eqNullSafe(F.col("b_fingerprint"))
                & F.col("s_n_files").eqNullSafe(F.col("b_n_files"))
            )
            # window aggs skip NULLs (rows missing on one side), which
            # is exactly right: a one-sided row unbalances the bucket
            # sums/xors and vetoes the whole bucket's shortcut
            bucket_same = (
                F.bit_xor("fingerprint").over(w).eqNullSafe(
                    F.bit_xor("b_fingerprint").over(w)
                )
                & F.sum("s_n_files").over(w).eqNullSafe(F.sum("b_n_files").over(w))
            )
            joined = joined.withColumn("same_shortcut", row_same & bucket_same)
            return drift_verdicts_joined(joined, cfg, same_col="same_shortcut")
        return drift_verdicts_joined(joined, cfg)

    # -- committed partials (strip + incremental) ------------------------------
    def _unit_ids(self, keys: list[str]) -> list[str]:
        """Ids of committed partial units: each key (what the unit read)
        hashed with the config fingerprint. The fingerprint covers
        everything that shapes a partial (e.g. n_repo_buckets), so a
        config change flips every id and the units recompute instead of
        reusing partials bucketed under the old config."""
        cfg = repr(sorted(asdict(self.config).items()))
        cfg_fp = hashlib.sha1(cfg.encode()).hexdigest()[:8]
        return [hashlib.sha1(f"{k}|{cfg_fp}".encode()).hexdigest()[:16] for k in keys]

    def _commit_units(
        self,
        spark: SparkSession,
        units: list[tuple[str, list[str]]],
        roots: list[str],
        part_col: str,
        write,
        schema,
        on_unit=None,
        stop: CancellationToken | None = None,
    ) -> tuple[dict[str, list[str]], int]:
        """The commit loop shared by strip and incremental validation.

        Each ``(unit_id, files)`` unit is one write job of
        ``write(df, unit_dir)`` into ``roots[0]/<part_col>=<unit_id>``;
        the parquet commit protocol's ``_SUCCESS`` marker is the
        commit, so a cancelled or killed job commits nothing. A unit
        whose marker exists under ANY of ``roots`` (probed in order)
        is skipped, scan included. Probes go through the Hadoop
        FileSystem API, never driver-local os.path, so the roots may
        live on file://, hdfs://, s3a:// or a bare local path (on S3A
        the committer still guarantees marker-implies-complete, which
        is all resume needs). ``on_unit(i, n, done)`` fires for every
        unit and ``stop`` is polled at each unit boundary
        (strip.rs:510-513).

        Returns ({root: ids of the units committed there}, number of
        units written by this call)."""
        committed: dict[str, list[str]] = {root: [] for root in roots}
        recomputed = 0
        for i, (uid, files) in enumerate(units):
            where = next(
                (r for r in roots
                 if io.fs_exists(spark, io.uri_join(r, f"{part_col}={uid}/_SUCCESS"))),
                None,
            )
            if on_unit is not None:
                on_unit(i, len(units), where is not None)
            if where is None:
                if stop is not None and stop.cancelled:
                    raise ValidationCancelled(stop.reason)
                where = roots[0]
                write(
                    spark.read.schema(schema).parquet(*files),
                    io.uri_join(where, f"{part_col}={uid}"),
                )
                recomputed += 1
            committed[where].append(uid)
        return committed, recomputed

    def _write_hists(self, df: DataFrame, path: str) -> None:
        histograms.partial_histograms(df, self.config).write.mode(
            "overwrite"
        ).parquet(path)

    def _write_fused(self, df: DataFrame, path: str) -> None:
        histograms.fused_scan_partials(df, self.config).write.mode(
            "overwrite"
        ).partitionBy("kind").parquet(path)

    # -- strip-mode validation ----------------------------------------------
    def validate_strips(
        self,
        snapshot_path: str,
        baseline: DataFrame,
        checkpoint_dir: str,
        stop: CancellationToken | None = None,
        n_strips: int = 16,
        on_strip=None,
        commits: DataFrame | None = None,
        expected_manifest: DataFrame | None = None,
        include_violations: bool = False,
    ) -> dict[str, DataFrame]:
        """Strip-walker validation — butteraugli_strip
        (strip.rs:227-455, walker strip.rs:491-581) recast to the one
        resource that matters at 100 TB: the input scan.

        The snapshot table's parquet files are split into ``n_strips``
        contiguous strips; each strip is scanned once and its partials
        committed to ``checkpoint_dir`` (``_commit_units``), then
        ``_finalize`` merges them. A resumed run skips committed strips
        entirely, scan included, so resume cost is proportional to the
        remaining input fraction (measured in BENCH.md). Strip ids hash
        the strip's file paths and the config: a resume never rereads
        committed content, and a config change recomputes every strip.
        The finalize reads only this run's strip ids, so strips from
        another n_strips, file set or config under a reused
        checkpoint_dir are pruned, never merged (they stay in place).

        ``include_violations=False`` commits histogram partials to
        ``partials/strip=<sid>`` and returns verdicts; a strip already
        committed by a full-validate run under ``fused_partials`` is
        reused (its hist rows are a superset). ``include_violations=True``
        makes strip mode a FULL validate (beyond the reference, whose
        strip API returns only score/pnorm, strip.rs:601-905): each
        strip commits ONE fused table (``fused_partials/strip=<sid>``,
        partitioned by ``kind``) of histogram partials and the narrow
        per-row check partials from a single pass over its content, and
        the finalize derives every row-level violation (global
        uniqueness counts, null_required, referential vs ``commits``,
        sha256 manifest vs ``expected_manifest``) from them.

        ``stop`` fences in-flight jobs through its job group and is
        polled at strip boundaries; with it the outputs are
        materialized before return. ``on_strip(i, n, skipped)`` is an
        optional per-strip progress hook.
        """
        spark = baseline.sparkSession
        with _fenced(spark, stop, "sparkval strip validation"):
            probe = spark.read.parquet(snapshot_path)
            check_corpus_schema(probe)
            files = sorted(probe.inputFiles())
            if not files:
                raise ValueError(f"no parquet files under {snapshot_path}")
            n_strips = max(1, min(n_strips, len(files)))
            strips = [
                files[len(files) * i // n_strips : len(files) * (i + 1) // n_strips]
                for i in range(n_strips)
            ]
            units = list(zip(self._unit_ids(["\n".join(s) for s in strips]), strips))
            fused_root = io.uri_join(checkpoint_dir, "fused_partials")
            # verdict-only runs also resume from fused commits; the
            # reverse recomputes (a full validate needs row partials the
            # classic tree never wrote)
            roots = [fused_root] if include_violations else [
                io.uri_join(checkpoint_dir, "partials"), fused_root
            ]
            committed, _ = self._commit_units(
                spark, units, roots, "strip",
                self._write_fused if include_violations else self._write_hists,
                probe.schema, on_strip, stop,
            )
            if stop is not None and stop.cancelled:
                raise ValidationCancelled(stop.reason)
            tables = {
                root: _read_units(spark, root, "strip", ids)
                for root, ids in committed.items() if ids
            }
            if include_violations:
                out = self._finalize(
                    baseline, *histograms.split_fused(tables[fused_root]), commits,
                    expected_manifest,
                )
            else:
                hists = [
                    histograms.split_fused(t)[0] if root == fused_root
                    else t.select(*histograms.PARTIAL_SCHEMA.fieldNames())
                    for root, t in tables.items()
                ]
                out = self._finalize(
                    baseline, functools.reduce(DataFrame.unionByName, hists)
                )
            if stop is not None:
                out = {k: v.localCheckpoint(eager=True) for k, v in out.items()}
            return out

    def validate_incremental(
        self,
        snapshot_path: str,
        baseline: DataFrame,
        cache_dir: str,
        commits: DataFrame | None = None,
        expected_manifest: DataFrame | None = None,
        on_file=None,
    ) -> dict:
        """Churn-proportional FULL validation: the strip-mode fused
        partials at data-file granularity, cached across runs in
        ``cache_dir/file_partials/file=<fid>``. A new snapshot of a
        100 TB table with 0.1% daily churn rescans 0.1% of the bytes;
        every unchanged file's partials are reused, and the finalize
        reads exactly the current file set's.

        A file's id hashes (path, size, mtime) through the FileSystem
        API (``io.fs_file_statuses``, recursive, so partitioned layouts
        are covered) plus the config: an in-place rewrite (same name,
        new bytes) changes size/mtime, so stale reuse is impossible.
        Cache entries of files no longer in the snapshot are pruned by
        partition filter, never opened.

        One write job per changed file — the right trade when runs are
        churn-dominated; for an initial bulk build at 10^6+ files, seed
        the cache with ``validate_strips`` granularity instead and let
        incremental take over from the first delta. ``on_file(i, n,
        skipped)`` is an optional per-file progress hook.

        Returns {"verdicts", "violations", "n_files_total",
        "n_files_recomputed", "n_files_reused"}.
        """
        spark = baseline.sparkSession
        statuses = io.fs_file_statuses(spark, snapshot_path)
        if not statuses:
            raise ValueError(f"no data files under {snapshot_path}")
        probe = spark.read.parquet(snapshot_path)
        check_corpus_schema(probe)
        root = io.uri_join(cache_dir, "file_partials")
        fids = self._unit_ids([f"{uri}|{size}|{mtime}" for uri, size, mtime in statuses])
        _, recomputed = self._commit_units(
            spark, [(fid, [uri]) for fid, (uri, _, _) in zip(fids, statuses)],
            [root], "file", self._write_fused, probe.schema, on_file,
        )
        committed = _read_units(spark, root, "file", sorted(fids))
        out = self._finalize(
            baseline, *histograms.split_fused(committed), commits, expected_manifest
        )
        return {
            **out,
            "n_files_total": len(statuses),
            "n_files_recomputed": recomputed,
            "n_files_reused": len(statuses) - recomputed,
        }

    # -- cancellable validation ----------------------------------------------
    def validate_with_stop(
        self,
        snapshot: DataFrame,
        baseline: DataFrame,
        stop: CancellationToken,
        commits: DataFrame | None = None,
        expected_manifest: DataFrame | None = None,
    ) -> dict[str, DataFrame]:
        """Cancellable twin of validate() — the *_with_stop API family
        (lib.rs:699-759). Every Spark job is forced INSIDE ``stop``'s
        job group on the calling thread, so ``stop.cancel()`` from
        another thread aborts the run (running tasks interrupted) and
        this method raises ValidationCancelled.

        Returned DataFrames are materialized (localCheckpoint), so
        consuming them later cannot outrun the job group. A cancelled
        run keeps no work; cancel + resume is
        ``validate_strips(..., stop=stop)``, whose committed strips a
        rerun skips.
        """
        with _fenced(snapshot.sparkSession, stop, "sparkval cancellable validation"):
            out = self.validate(snapshot, baseline, commits, expected_manifest)
            result = {k: v.localCheckpoint(eager=True) for k, v in out.items()}
            # both outputs are materialized above, so any fused scan
            # table still cached (this call's, or a stale one validate()
            # did not yet self-release) is done — drain the registry
            # (review round 5 / ADVICE r5)
            release_scan_caches()
            return result

    # -- lineage / metrics ----------------------------------------------------
    def run_metrics(
        self, verdicts: DataFrame, violations: DataFrame, started_at: float
    ) -> dict:
        """Per-run metrics sidecar (the CLI's JSON output + batch
        summary, butteraugli-cli main.rs:156-194,624-660)."""
        vsum = verdicts.agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum((F.col("verdict") == "FAIL").cast("long")).alias("n_fail"),
            F.sum((F.col("verdict") == "WARN").cast("long")).alias("n_warn"),
            F.sum((F.col("verdict") == "PASS").cast("long")).alias("n_pass"),
            F.min("score").alias("score_min"),
            F.max("score").alias("score_max"),
            F.avg("score").alias("score_mean"),
            F.sum("n_files_snap").alias("files_validated"),
        ).first()
        by_check = {
            r["check"]: r["n"]
            for r in violations.groupBy("check").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        elapsed = time.time() - started_at
        files = vsum["files_validated"] or 0
        return {
            "config": asdict(self.config),
            "elapsed_sec": elapsed,
            "files_validated": files,
            "files_per_sec": files / elapsed if elapsed > 0 else None,
            "partitions": vsum["n_partitions"],
            "verdict_counts": {
                "PASS": vsum["n_pass"], "WARN": vsum["n_warn"], "FAIL": vsum["n_fail"]
            },
            "score": {
                "min": vsum["score_min"], "max": vsum["score_max"], "mean": vsum["score_mean"]
            },
            "violations_by_check": by_check,
        }

    @staticmethod
    def write_metrics(
        metrics: dict, path: str, spark: SparkSession | None = None
    ) -> None:
        """Persist a run-metrics sidecar. With ``spark`` the write goes
        through the Hadoop FileSystem API (rename-backed commit dance,
        io.fs_write_text) so metrics land next to results on s3a://
        or hdfs:// — driver-local open() only sees the local disk
        (round-3 verdict #2 discipline, applied here in round 5).
        Without ``spark`` the legacy local-path form still works."""
        payload = json.dumps(metrics, indent=2, default=str)
        if spark is not None:
            io.fs_write_text(spark, path, payload)
            return
        with open(path, "w") as f:
            f.write(payload)
