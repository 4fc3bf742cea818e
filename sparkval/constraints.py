"""Row-level constraint checks -> violation rows.

Pure DataFrame built-ins (no Python UDFs): every check compiles to
whole-stage-codegen'd hash aggregates and joins that Catalyst/AQE can
optimize at the 10^12-file scale. ``uniqueness_violations``,
``referential_violations`` and ``null_violations`` are the
one-check-per-scan reference forms. Production finalizes go through ONE
body, ``_violations``, entered by ``all_violations`` (raw corpus) and
``violations_from_row_partials`` (narrow fused-scan partials):

- one probe: a single scan of the rows left-joins the broadcast
  duplicate-key set (a narrow 3-column aggregation; duplicates are
  rare) and the broadcast commits parents (~10^6 rows at any scale);
- filter first: only rows where some check fires reach the explode;
- hash last: sha256 runs after the explode, on violating rows only.

Reference mapping (SURVEY.md §2.4): the reference's "join" is the
dimension-checked positional pairing of two images (lib.rs:707-743)
plus the filename pairing of CLI batch mode
(butteraugli-cli/src/main.rs:352-394); the engine generalizes these to
relational equi-joins keyed by (repo, path, commit).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T

NATURAL_KEY = ["repo", "path", "commit"]

# Per-row invariant vs the reference (BASELINE.json input_hint):
# sha256 over UTF-8 content; NULL content hashes to NULL.
def content_sha256(col: str = "content") -> F.Column:
    return F.sha2(F.col(col).cast("binary"), 256)


def _as_violations(df: DataFrame, check: str, detail: F.Column) -> DataFrame:
    """Project any keyed row set into the canonical violation shape."""
    return df.select(
        F.lit(check).alias("check"),
        F.col("repo"),
        F.col("path"),
        F.col("commit"),
        content_sha256().alias("content_sha256"),
        detail.cast("string").alias("detail"),
    )


def uniqueness_violations(corpus: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Rows whose natural key (repo, path, commit) occurs more than once.

    Plan shape at scale: partial-count -> shuffle on key -> final count
    -> filter(count > 1) -> join back. The duplicate-key set is tiny
    relative to the corpus, so AQE converts the join-back into a
    broadcast; the big table is scanned twice but never shuffled twice
    with all columns (only the 3 key columns shuffle).
    """
    keys = keys or NATURAL_KEY
    dup_keys = (
        corpus.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )
    dups = corpus.join(dup_keys, on=keys, how="inner")
    return _as_violations(
        dups, "uniqueness", F.concat(F.lit("key_count="), F.col("dup_count"))
    )


def referential_violations(corpus: DataFrame, commits: DataFrame) -> DataFrame:
    """Corpus rows whose (repo, commit) has no parent in ``commits``.

    LEFT ANTI join on (repo, commit). The commits dimension is ~10^6
    rows even at 10^12 files, so we broadcast it explicitly; if it ever
    outgrows the broadcast threshold Spark falls back to a shuffled
    anti-join and AQE's skew-join splits hot repos.
    """
    parents = commits.select("repo", "commit").dropDuplicates(["repo", "commit"])
    orphans = corpus.join(F.broadcast(parents), on=["repo", "commit"], how="left_anti")
    return _as_violations(orphans, "referential_commit_repo", F.lit("dangling commit"))


def null_violations(
    corpus: DataFrame, required: tuple[str, ...] = ("repo", "path", "commit", "content")
) -> DataFrame:
    """Rows with NULL (or empty-string key) values in required columns.

    Single scan, no shuffle; the filter pushes down to the parquet scan.
    """
    conds = [F.col(c).isNull() for c in required]
    bad = corpus.filter(F.greatest(*[c.cast("int") for c in conds]) == 1)
    # bind the detail BEFORE blanking the key columns — computing it on
    # the coalesced projection would never name a NULL key column
    detail = F.concat_ws(
        ",",
        F.array_compact(
            F.array(*[F.when(F.col(c).isNull(), F.lit(c)) for c in required])
        ),
    )
    named = bad.withColumn("_detail", detail)
    return _as_violations(
        named.select(
            *[F.coalesce(F.col(k), F.lit("")).alias(k) for k in NATURAL_KEY],
            "lang",
            "content",
            "_detail",
        ),
        "null_required",
        F.col("_detail"),
    )


def content_manifest(corpus: DataFrame) -> DataFrame:
    """Per-row invariant manifest: (repo, path, commit, content_sha256).

    This is the cross-engine verdict contract from BASELINE.json's
    input_hint — the reference engine emits the same manifest, and row
    equality is checked by sha256, never by shipping content. sha2 is
    a codegen'd JVM expression: compute-dense, scan-speed, no Python.
    """
    return corpus.select(*NATURAL_KEY, content_sha256().alias("content_sha256"))


def row_check_exprs() -> tuple[F.Column, F.Column]:
    """The (content_sha256, null_detail) per-row check expressions —
    ONE definition shared by ``all_violations`` and the fused
    single-scan kernel (histograms.fused_scan_partials), so the batch
    and strip full-validate paths can never drift."""
    required = ("repo", "path", "commit", "content")
    any_null = F.greatest(*[F.col(c).isNull().cast("int") for c in required]) == 1
    null_detail = F.when(
        any_null,
        F.concat_ws(
            ",",
            F.array_compact(
                F.array(*[F.when(F.col(c).isNull(), F.lit(c)) for c in required])
            ),
        ),
    )
    return content_sha256(), null_detail


def violations_from_row_partials(
    partials: DataFrame,
    commits: DataFrame | None = None,
    expected: DataFrame | None = None,
) -> DataFrame:
    """Finalize row-level violations from committed per-row partials
    (key, content_sha256, null_detail) — the narrow rows of
    ``histograms.split_fused``. The StripReducer partial-state shape
    (reference strip.rs:126-209: commit mergeable per-strip state,
    finalize once): uniqueness counts are global because the committed
    slices partition the corpus, and content is never read here. Same
    rows as ``all_violations`` over the corpus (parity-tested)."""
    return _violations(partials, F.col("content_sha256"), commits, expected)


def manifest_violations(corpus: DataFrame, expected: DataFrame) -> DataFrame:
    """Row-invariant check against a reference manifest.

    Full-outer join on the natural key (SURVEY §2.4: violation-row
    equality vs reference verdicts): rows present on one side only or
    with differing sha256 become violations. The join shuffles ONLY
    (key, sha) pairs — ~100 B/row even when content is megabytes; AQE
    skew-join covers hot repos.
    """
    return _manifest_join(content_manifest(corpus), expected)


def _manifest_join(ours: DataFrame, expected: DataFrame) -> DataFrame:
    """The manifest check over a (repo, path, commit, content_sha256)
    table — shared by manifest_violations and the row-violation
    finalize (_violations)."""
    # explicit presence flags, NOT sha-nullness: content_sha256 is NULL
    # for rows whose content is NULL (a supported state — see
    # null_violations), so a NULL-content row present on both sides
    # must classify by the flags, and NULL-vs-hash differences must
    # surface as a mismatch (eqNullSafe), not as a phantom missing row.
    ours = ours.withColumn("_in_snap", F.lit(True))
    theirs = expected.select(
        *NATURAL_KEY, F.col("content_sha256").alias("expected_sha256")
    ).withColumn("_in_ref", F.lit(True))
    j = ours.join(theirs, on=NATURAL_KEY, how="full_outer")
    detail = (
        F.when(F.col("_in_snap").isNull(), F.lit("missing_in_snapshot"))
        .when(F.col("_in_ref").isNull(), F.lit("unexpected_in_snapshot"))
        .when(
            ~F.col("content_sha256").eqNullSafe(F.col("expected_sha256")),
            F.lit("content_hash_mismatch"),
        )
    )
    bad = j.withColumn("detail", detail).filter(F.col("detail").isNotNull())
    return bad.select(
        F.lit("row_invariant_sha256").alias("check"),
        *NATURAL_KEY,
        F.coalesce("content_sha256", "expected_sha256").alias("content_sha256"),
        F.col("detail").cast("string").alias("detail"),
    )


def all_violations(
    corpus: DataFrame,
    commits: DataFrame | None = None,
    expected: DataFrame | None = None,
) -> DataFrame:
    """Every row-level check over a raw corpus in ONE full-width probe
    scan (plus the narrow duplicate-key aggregation) — the reference's
    operator-fusion rewrite (SURVEY §4) applied to the violation pass.
    Row sets are EXACTLY those of the individual checks (tested); with
    ``expected`` the manifest check (``manifest_violations``) joins the
    union. Content rides raw and is hashed only for violating rows."""
    _, null_detail = row_check_exprs()
    rows = corpus.select(*NATURAL_KEY, null_detail.alias("null_detail"), "content")
    return _violations(rows, content_sha256(), commits, expected)


def _violations(
    rows: DataFrame,
    sha: F.Column,
    commits: DataFrame | None,
    expected: DataFrame | None,
) -> DataFrame:
    """The one row-violation finalize. ``rows`` holds NATURAL_KEY,
    ``null_detail`` and whatever ``sha`` reads. One probe of ``rows``
    left-joins the broadcast duplicate-key set and commits parents;
    the filter keeps only rows where some check fires BEFORE the
    violation structs build and explode (one row per firing check);
    ``sha`` is evaluated AFTER the explode, so only violating rows are
    hashed (hashing in the probe paid full-corpus sha256, ~2.5 s per
    bench leg at the 6M-file corpus). With ``expected`` the manifest
    check joins the union; one deterministic (check, repo, path,
    commit) order at the end diffs against golden violation tables."""
    dup_keys = (
        rows.groupBy(*NATURAL_KEY)
        .agg(F.count(F.lit(1)).alias("_dup_count"))
        .filter(F.col("_dup_count") > 1)
    )
    probe = rows.join(F.broadcast(dup_keys), on=NATURAL_KEY, how="left")
    # (fires, check, detail, blank NULL keys as null_violations does)
    checks = [
        (
            F.col("_dup_count").isNotNull(),
            "uniqueness",
            F.concat(F.lit("key_count="), F.col("_dup_count")),
            False,
        ),
        (F.col("null_detail").isNotNull(), "null_required", F.col("null_detail"), True),
    ]
    if commits is not None:
        parents = (
            commits.select("repo", "commit")
            .dropDuplicates(["repo", "commit"])
            .withColumn("_ref_ok", F.lit(True))
        )
        probe = probe.join(F.broadcast(parents), on=["repo", "commit"], how="left")
        checks.append(
            (F.col("_ref_ok").isNull(), "referential_commit_repo", F.lit("dangling commit"), False)
        )
    structs = [
        F.when(
            fires,
            F.struct(
                F.lit(check).alias("check"),
                detail.alias("detail"),
                F.lit(blank).alias("blank_null_keys"),
            ),
        )
        for fires, check, detail, blank in checks
    ]
    v = F.explode(F.array_compact(F.array(*structs))).alias("v")
    # a generator's sibling expressions evaluate in the Project ABOVE
    # the Generate, so ``sha`` runs on exploded (violating) rows only
    exploded = probe.filter(
        functools.reduce(operator.or_, [c[0] for c in checks])
    ).select(v, *NATURAL_KEY, sha.alias("content_sha256"))
    key_cols = [
        F.when(F.col("v.blank_null_keys"), F.coalesce(F.col(k), F.lit("")))
        .otherwise(F.col(k))
        .alias(k)
        for k in NATURAL_KEY
    ]
    out = exploded.select(
        F.col("v.check").alias("check"),
        *key_cols,
        "content_sha256",
        F.col("v.detail").alias("detail"),
    )
    if expected is not None:
        out = out.unionByName(
            _manifest_join(rows.select(*NATURAL_KEY, sha.alias("content_sha256")), expected)
        )
    return deterministic_order(out, ["check", "repo", "path", "commit"])


def deterministic_order(
    df: DataFrame, keys: list[str], max_rows: int | None = 1_000_000
) -> DataFrame:
    """Deterministic total order WITHOUT a global orderBy: violation /
    verdict tables are tiny (violations are rare by definition), but a
    global sort range-partitions, and its sampling pass RE-EXECUTES the
    entire upstream lineage — for violation tables that means scanning
    the corpus twice. One hash partition + in-partition sort gives the
    same total order for a fraction of the cost.

    ``max_rows`` bounds the single task against the pathological case
    (e.g. validating against the wrong manifest makes violations
    O(corpus)): output truncates at the cap rather than funnelling the
    corpus through one task. The capped path is ``orderBy(...keys +
    atomic tiebreakers).limit(k)`` — Spark plans TakeOrderedAndProject
    (per-partition top-k, merged; no range-partitioner sampling pass,
    so the upstream lineage still executes once) — which makes the
    retained subset the DETERMINISTIC first ``max_rows`` rows of the
    total order, run to run, instead of an arbitrary flapping sample
    (ADVICE round 2). Truncation is therefore unambiguous to callers:
    exactly ``max_rows`` rows back means the deterministic prefix of
    an over-cap set. Callers that must emit every row of a huge
    violation set pass None and write partitioned-unsorted.
    """
    if max_rows is not None:
        # tiebreakers: every atomic (orderable, cheap) column not
        # already a key, in name order — total order => stable prefix
        ties: list = sorted(
            f.name
            for f in df.schema.fields
            if f.name not in keys and isinstance(f.dataType, T.AtomicType)
        )
        # non-atomic columns (e.g. a verdict row's driftmap array) can
        # differ between rows equal on every atomic column; without a
        # tiebreaker such rows flap across the limit() boundary run to
        # run (ADVICE round 3). xxhash64 handles nested types and is a
        # codegen'd expression — hash order is arbitrary but STABLE,
        # which is all a deterministic prefix needs. Maps are
        # unhashable at ANY nesting depth (xxhash64 rejects
        # array<map<..>> too), so the exclusion must recurse.
        def _contains_map(dt: T.DataType) -> bool:
            if isinstance(dt, T.MapType):
                return True
            if isinstance(dt, T.ArrayType):
                return _contains_map(dt.elementType)
            if isinstance(dt, T.StructType):
                return any(_contains_map(f.dataType) for f in dt.fields)
            return False

        nonatomic = sorted(
            f.name
            for f in df.schema.fields
            if f.name not in keys
            and not isinstance(f.dataType, T.AtomicType)
            and not _contains_map(f.dataType)
        )
        if nonatomic:
            ties.append(F.xxhash64(*nonatomic))
        return df.orderBy(*keys, *ties).limit(max_rows)
    return df.repartition(1).sortWithinPartitions(*keys)


def corpus_diff(
    current: DataFrame,
    previous: DataFrame,
    id_col: str = "doc_id",
    content_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Snapshot diff between two corpus versions: per-id status
    ``added`` / ``removed`` / ``changed`` / ``unchanged`` — the data
    versioning audit a training pipeline runs before re-deriving
    downstream artifacts from a refreshed crawl (the cross-version
    sibling of ``manifest_violations``, which compares against an
    external manifest rather than a prior snapshot).

    Scale shape: each side is projected to ``(id, sha256(content))``
    AT THE SCAN, so document content never shuffles — the full-outer
    join moves only (id, 64-char hex) pairs (~100 B/row at any content
    size), exactly the manifest-check plan. If both snapshots are
    bucketed by ``id_col`` the join is shuffle-free; AQE skew-join
    covers hot ids otherwise. The multi-column fingerprint is
    INJECTIVE: each column maps to either the token ``null`` (not
    valid hex, so it can never collide with a sha256 digest) or its
    own sha256, and the fixed-alphabet token string is hashed once —
    separator-joined RAW values would not be ('x\\x1f' + '' would
    equal 'x' + '\\x1f'), and a raw NULL sentinel could collide with
    content that IS the sentinel.
    """
    def _fp() -> F.Column:
        parts = [
            F.when(F.col(c).isNull(), F.lit("null")).otherwise(
                F.sha2(F.col(c).cast("string"), 256)
            )
            for c in content_cols
        ]
        return F.sha2(F.concat(*parts), 256)

    cur = current.select(
        F.col(id_col), _fp().alias("_fp_cur"), F.lit(True).alias("_in_cur")
    )
    prev = previous.select(
        F.col(id_col), _fp().alias("_fp_prev"), F.lit(True).alias("_in_prev")
    )
    j = cur.join(prev, on=id_col, how="full_outer")
    status = (
        F.when(F.col("_in_prev").isNull(), F.lit("added"))
        .when(F.col("_in_cur").isNull(), F.lit("removed"))
        .when(F.col("_fp_cur").eqNullSafe(F.col("_fp_prev")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col(id_col), status.alias("status"))


def corpus_diff_report(diff: DataFrame) -> DataFrame:
    """One-row-per-status accounting over a ``corpus_diff`` result —
    the O(1)-output summary a version bump gets logged with. Single
    narrow groupBy on a 4-value key (map-side partials collapse it)."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# declarative rule suites + functional-dependency mining — schema-level
# checks beyond the fixed uniqueness/referential/null trio (SURVEY §2.4):
# the reference's per-image parameter validation (lib.rs's dimension and
# range checks) generalized to a user-declared rule list evaluated in
# ONE corpus scan
# --------------------------------------------------------------------------

def rule_suite(df: DataFrame, rules: dict[str, F.Column]) -> DataFrame:
    """Evaluate a DECLARATIVE suite of row-level conformance rules in a
    single scan: ``rules`` maps rule name -> boolean Column meaning
    "this row passes". A row with a NULL rule value counts as a
    VIOLATION (SQL three-valued logic would silently drop it from
    both sides otherwise — a validation engine must treat unknown as
    failing).

    Plan shape: every rule compiles to one conditional-sum aggregate
    in the SAME hash aggregate, so N rules cost one table scan and an
    O(1)-row shuffle (map-side partials), never N scans. The wide
    one-row aggregate is then unpivoted JVM-side (stack) into one row
    per rule: ``rule, n_rows, n_violations, pass`` — the reference's
    per-check exit-code summary (main.rs's verdict accounting) as a
    tidy table.
    """
    if not rules:
        raise ValueError("rule_suite needs at least one rule")
    import re

    for name in rules:
        # explicit ASCII class — str.isalnum() admits non-ASCII
        # letters the unquoted selectExpr identifier can't parse
        if not re.fullmatch(r"[A-Za-z0-9_]+", name):
            raise ValueError(f"rule name must be [A-Za-z0-9_]+: {name!r}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules.items():
        bad = ~F.coalesce(cond, F.lit(False))
        aggs.append(F.sum(bad.cast("long")).alias(f"__v_{name}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __v_{name}" for name in rules
    )
    return wide.selectExpr(
        f"stack({len(rules)}, {stack_args}) AS (rule, n_violations)",
        "__n AS n_rows",
    ).select(
        "rule",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("pass"),
    )


def fd_check(
    df: DataFrame,
    determinant: list[str],
    dependent: str,
    min_violations: int = 1,
) -> DataFrame:
    """Functional-dependency conformance X -> Y: for each determinant
    key, does exactly one dependent value occur? Returns one row per
    VIOLATING key with its g3-style repair cost — ``n_violations`` =
    rows that would have to be deleted to restore the FD (everything
    outside the key's majority class; Huhtala et al.'s TANE g3
    measure, the standard FD-approximation metric).

    Plan shape: two cascaded hash aggregates — (X, Y) counts, then a
    fold to per-X ``n_rows / n_distinct_dep / majority`` — both with
    map-side partials; nothing wider than the (X, Y) pair shuffles,
    and the second shuffle is on the strictly smaller X. NULL
    dependents form their own class (a key mixing NULL and a value is
    a violation worth surfacing).
    """
    pair = (
        df.groupBy(*determinant, dependent)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    per_key = pair.groupBy(*determinant).agg(
        F.sum("__c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_dep"),
        F.max("__c").alias("__majority"),
    )
    return (
        per_key.select(
            *determinant,
            "n_rows",
            "n_distinct_dep",
            (F.col("n_rows") - F.col("__majority")).alias("n_violations"),
        )
        .filter(F.col("n_violations") >= min_violations)
    )


def rate_limit_violations(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    max_events: int = 100,
    window_seconds: int = 3600,
) -> DataFrame:
    """Sliding-window rate constraint: flag every event that EXCEEDS
    ``max_events`` within its trailing ``window_seconds`` window —
    i.e. the (max_events+1)-th-or-later such event; max_events itself
    is the allowed budget — the abuse/ingest-storm
    check a feed validator runs next to uniqueness. Exact, not
    bucketed: a RANGE window over event-time microseconds counts the
    events in [t - W, t] (inclusive both ends — SQL RANGE INTERVAL
    PRECEDING semantics, so oracles line up; ties at t count as
    peers), so bursts straddling bucket boundaries can't hide (the
    failure mode of tumbling-window rate checks).

    Plan shape: one shuffle on the key (window partition); state per
    key is the trailing window, which AQE can't skew-split — for a
    hot key beyond memory, pre-aggregate to per-second counts first.
    Output: the violating events with ``n_in_window``.
    """
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(micros)
        .rangeBetween(-(window_seconds * 1_000_000), 0)
    )
    counted = events.withColumn("n_in_window", F.count(F.lit(1)).over(w))
    return counted.filter(F.col("n_in_window") > max_events)


def monotonicity_violations(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    strict: bool = False,
) -> DataFrame:
    """Ordering constraint: within each key, ``value_col`` must be
    non-decreasing (``strict=True``: strictly increasing) when rows
    are ordered by ``order_col`` — the sequence-regression check for
    monotone ids, version counters, cumulative totals. Emits the
    violating rows with the predecessor value they regressed from.

    Ties in ``order_col`` are broken by ``value_col`` itself, so two
    rows at the same order position never report against each other
    in the non-strict mode (a deterministic tiebreak keeps the check
    engine-replayable). One shuffle on the key; the lag window is
    O(1) state per row.
    """
    w = Window.partitionBy(key_col).orderBy(order_col, value_col)
    with_prev = df.withColumn("prev_value", F.lag(value_col).over(w))
    prev = F.col("prev_value")
    bad = (
        (F.col(value_col) <= prev) if strict else (F.col(value_col) < prev)
    )
    return with_prev.filter(F.coalesce(bad, F.lit(False)))


def reconcile_totals(
    header: DataFrame,
    detail: DataFrame,
    header_key: str,
    detail_key: str,
    header_total_col: str,
    detail_amount: F.Column,
    group_col: str | None = None,
    rel_tol: float = 0.01,
) -> DataFrame:
    """Header-vs-detail totals reconciliation — the classic ETL gate
    that every invoice/order pipeline runs: does the pre-aggregated
    total stored on the header row equal the sum recomputed from its
    detail lines? (Reference analog: the batch summary totals the
    engine cross-checks per strip, engine.rs-style accounting; here
    generalized to any header/detail pair.)

    Returns one row per ``group_col`` value (or a single ``_all``
    row). Every header lands in exactly ONE of four buckets, so the
    accounting always closes (n_no_detail + n_unverifiable +
    n_within_tol + n_mismatch == n_headers):

    - ``n_no_detail``: no detail lines exist for the key at all;
    - ``n_unverifiable``: detail lines exist but no relative error is
      computable (NULL stored total, or every detail amount NULL) —
      the most suspicious headers, surfaced rather than dropped;
    - ``n_within_tol`` / ``n_mismatch``: comparable headers, split at
      ``rel_tol`` relative error.

    mean/max relative error cover the comparable headers only (NULL
    when a group has none).

    Scale: detail aggregates on its key with map-side partials (one
    shuffle of O(headers) rows); the header join lands on the same
    key so AQE plans a co-partitioned join; the final rollup is
    O(groups). Detail rows never move unaggregated.
    """
    agg = detail.groupBy(F.col(detail_key).alias("__k")).agg(
        F.sum(detail_amount).alias("__detail_total"),
        F.count(F.lit(1)).alias("__n_lines"),
    )
    g = F.col(group_col) if group_col else F.lit("_all")
    joined = header.join(
        agg, F.col(header_key) == F.col("__k"), "left"
    ).select(
        g.alias("group_key"),
        F.col(header_total_col).cast("double").alias("__h"),
        F.col("__detail_total").cast("double").alias("__d"),
        F.col("__n_lines"),
    )
    rel_err = F.when(
        F.col("__h").isNotNull() & F.col("__d").isNotNull(),
        F.abs(F.col("__h") - F.col("__d"))
        / F.greatest(F.abs(F.col("__h")), F.lit(1e-12)),
    )
    no_detail = F.col("__n_lines").isNull()
    unverifiable = rel_err.isNull() & ~no_detail
    return (
        joined.groupBy("group_key")
        .agg(
            F.count(F.lit(1)).alias("n_headers"),
            F.sum(no_detail.cast("long")).alias("n_no_detail"),
            F.sum(unverifiable.cast("long")).alias("n_unverifiable"),
            F.sum(
                F.coalesce((rel_err <= rel_tol).cast("long"), F.lit(0))
            ).alias("n_within_tol"),
            F.sum(
                F.coalesce((rel_err > rel_tol).cast("long"), F.lit(0))
            ).alias("n_mismatch"),
            F.round(F.avg(rel_err), 6).alias("mean_rel_err"),
            F.round(F.max(rel_err), 6).alias("max_rel_err"),
        )
        .orderBy("group_key")
    )


def interval_violations(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Validity-interval integrity — the SCD2 / booking / lease check:
    within each key, intervals must be well-formed and non-overlapping
    (a new interval may START exactly where a previous one ended, but
    not before). Emits one row per violating interval with the kind
    and, for overlaps, the furthest prior end it collides with:

    - ``null_bound``: NULL start or end (an unparseable timestamp
      casts to NULL and lands here too). Open-ended SCD2 "current"
      rows use this convention deliberately — coalesce the end to a
      far-future sentinel BEFORE the check if open rows are legal in
      your model; a generic integrity check must surface them, not
      guess;
    - ``inverted``: end < start (malformed — excluded from the
      running max so one bad row doesn't cascade);
    - ``overlap``: start < the running max end of all PRIOR
      well-formed intervals of the key (ordered by start, end, then
      ``id_col``) — the running max catches containment too, which
      lag(end) misses.

    ONE scan, one shuffle on the key, O(1) window state per row: the
    classification is a single when-chain over the windowed
    projection (null/inverted rows contribute NULL to the running
    max, which max() ignores). Timestamps compare as integer
    epoch-micros, so the check is engine-replayable to the
    microsecond.
    """
    start_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    end_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    base = df.select(
        *([F.col(id_col)] if id_col else []),
        F.col(key_col),
        F.col(start_col),
        F.col(end_col),
        start_us.alias("__s"),
        end_us.alias("__e"),
    )
    order = [F.col("__s"), F.col("__e")] + ([F.col(id_col)] if id_col else [])
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    valid_end = F.when(F.col("__e") >= F.col("__s"), F.col("__e"))
    windowed = base.withColumn("__pme", F.max(valid_end).over(w))
    violation = (
        F.when(F.col("__s").isNull() | F.col("__e").isNull(), "null_bound")
        .when(F.col("__e") < F.col("__s"), "inverted")
        .when(F.col("__s") < F.col("__pme"), "overlap")
    )
    return (
        windowed.withColumn("violation", violation)
        .filter(F.col("violation").isNotNull())
        .select(
            *([id_col] if id_col else []),
            key_col,
            start_col,
            end_col,
            "violation",
            F.when(
                F.col("violation") == "overlap",
                F.timestamp_micros(F.col("__pme")),
            ).alias("conflicts_until"),
        )
    )


def _framed_row_hash(cols: list[str]) -> F.Column:
    """The 60-bit canonical row hash shared by table_fingerprint and
    partition_fingerprints: each value length-framed ("<len>:<value>",
    NULL -> "N") so separators inside values can never realign with a
    column boundary, frames 0x1F-joined, sha256, first 15 hex chars.
    One definition — the fingerprint contract cannot drift between
    the whole-table and the monoid forms."""

    def frame(c: str) -> F.Column:
        s = F.col(c).cast("string")
        return F.coalesce(
            F.concat(F.length(s).cast("string"), F.lit(":"), s), F.lit("N")
        )

    canon = F.concat_ws("\x1f", *[frame(c) for c in cols])
    return F.conv(F.substring(F.sha2(canon, 256), 1, 15), 16, 10).cast("long")


def table_fingerprint(df: DataFrame, cols: list[str]) -> DataFrame:
    """Order-independent whole-table fingerprint: ONE row summarizing
    the table's content so two engines / snapshots / replicas can be
    compared without sorting or shipping rows — the cheap first check
    of any migration ("same fingerprint -> move on; different ->
    run corpus_diff to find out where").

    Per row: a 60-bit hash of the selected columns (sha256 over a
    length-framed canonical string — each value encodes as
    "<char_length>:<value>", NULL as "N", frames joined by 0x1F — so
    a separator INSIDE a value can never realign with a column
    boundary, and NULL is distinct from every string including
    'NULL'). Aggregated order-independently: row count, XOR of
    hashes, and min/max hash. XOR alone cancels duplicate rows of
    even multiplicity, so the count and extrema corroborate it —
    collisions require matching all four. Avoid float columns across
    engines (string renderings differ); cast them to fixed decimals
    upstream.

    One scan, zero shuffle beyond the single partial-aggregated
    scalar row. sha256 is codegen'd JVM — compute-dense, scan-speed.
    """
    if not cols:
        raise ValueError("table_fingerprint needs at least one column")
    h = _framed_row_hash(cols)
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor(h).alias("xor_hash"),
        F.min(h).alias("min_hash"),
        F.max(h).alias("max_hash"),
    )


def partition_fingerprints(
    df: DataFrame, part_col: str, cols: list[str]
) -> DataFrame:
    """table_fingerprint as a MONOID: one fingerprint row per
    partition value, xor/min/max/count-mergeable to coarser slices or
    the whole table (bit_xor is associative-commutative, min/max/sum
    likewise) — persist per-partition rows once and every future
    reconciliation of any slice union is a kilobyte fold, no rescan.
    The same partial/merge shape as the histogram, t-digest, HLL and
    KMV monoids; `merge == whole` is pinned by a pytest parity test.

    Rows whose ``part_col`` is NULL form their own partition (groupBy
    keeps NULL keys), so the fold over ALL rows always reproduces the
    global table_fingerprint.
    """
    if not cols:
        raise ValueError("partition_fingerprints needs at least one column")
    h = _framed_row_hash(cols)
    return (
        df.groupBy(part_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(h).alias("xor_hash"),
            F.min(h).alias("min_hash"),
            F.max(h).alias("max_hash"),
        )
        .orderBy(part_col)
    )
