"""Per-partition column statistics (SURVEY §2.5 engine-only stats).

Everything scalar is built-in DataFrame aggregation (whole-stage
codegen, partial+final hash agg): null counts, length min/max/mean,
percentile_approx, approx_count_distinct (Spark's native HLL++).

Mergeable sketches: HLL distinct counts stay on Spark's native
hll_sketch_agg. The four Python sketches — t-digest lengths,
count-min frequencies, Bloom membership, KMV set overlap — are each a
``_Monoid`` on ONE path, the StripReducer shape (strip.rs:126-209):
``_sketch_build`` collapses each Arrow batch to per-group partials
(mapInArrow, numpy) and merges them per key (applyInArrow), and
``_sketch_rollup`` merges built sketches up to coarser groups.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from sparkval import tdigest
from sparkval.config import ValidationConfig
from sparkval.histograms import prepared_scan
from sparkval.session import _list_matrix, _spread_small_input


def column_stats(corpus: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Built-in per-group column stats over the corpus table.

    One scan, one shuffle on the group key; every aggregate here has a
    map-side partial implementation, so shuffle volume is O(groups).
    """
    group_cols = group_cols if group_cols is not None else ["lang"]
    length = F.length("content")
    return corpus.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("content").isNull().cast("long")).alias("n_null_content"),
        F.min(length).alias("len_min"),
        F.max(length).alias("len_max"),
        F.avg(length).alias("len_mean"),
        F.percentile_approx(length, [0.5, 0.9, 0.99], 10000).alias("len_quantiles"),
        F.approx_count_distinct("path").alias("approx_distinct_paths"),
        F.approx_count_distinct("commit").alias("approx_distinct_commits"),
    )


def per_repo_stats(corpus: DataFrame, salt_buckets: int = 8) -> DataFrame:
    """Per-repo stats with explicit salting for hot repos.

    A Zipf-hot repo (one repo = 30% of all rows) would make a plain
    groupBy("repo") put a third of the corpus in one reducer. The salt
    splits each repo's rows across ``salt_buckets`` partial groups
    (map-side parallel), then a second tiny aggregation merges the
    partials — the same two-stage shape AQE's skew-join uses, applied
    to aggregation. All merged stats are algebraic (sum/count/min/max),
    so the two-stage result is exact.
    """
    length = F.length("content")
    salted = corpus.withColumn(
        "_salt", F.pmod(F.xxhash64("path", "commit"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("repo", "_salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("content").isNull().cast("long")).alias("nn"),
        F.sum(length.cast("double")).alias("len_sum"),
        F.min(length).alias("len_min"),
        F.max(length).alias("len_max"),
    )
    return (
        partial.groupBy("repo")
        .agg(
            F.sum("n").alias("n_files"),
            F.sum("nn").alias("n_null_content"),
            (F.sum("len_sum") / F.sum("n")).alias("len_mean"),
            F.min("len_min").alias("len_min"),
            F.max("len_max").alias("len_max"),
        )
    )


# --------------------------------------------------------------------------
# mergeable sketch monoids: mapInArrow partials -> applyInArrow merge
# --------------------------------------------------------------------------

_LONGS = T.ArrayType(T.LongType())


class _Monoid(NamedTuple):
    """One mergeable sketch family on the shared build/rollup path.

    ``fields``: the merged sketch columns, after the group keys.
    ``partial(values)``: one group's non-NULL values from one Arrow
    batch (a ``pa.Array``) -> {column: value} of its partial row.
    ``merge(rows)``: one group's partial (or merged) rows as a
    ``pa.Table`` -> {column: value} of the merged row.
    ``partial_fields``: the partial row's columns when they differ
    from ``fields``. ``null_keys``: whether the output declares group
    keys nullable."""

    fields: list[T.StructField]
    partial: Callable[[pa.Array], dict]
    merge: Callable[[pa.Table], dict]
    partial_fields: list[T.StructField] | None = None
    null_keys: bool = True


def _sketch_value(col) -> F.Column:
    """The sketched value (column name or Column) as ``_v``, cast to
    STRING (no-op for string inputs): the Python hashers encode utf-8
    and the codegen probe expressions hash the string bytes, so a
    non-string column would either crash the executor (AttributeError
    in term_hash) or disagree with the expression side — the cast
    aligns both by construction (ADVICE r5)."""
    return (F.col(col) if isinstance(col, str) else col).cast("string").alias("_v")


def _sketch_table(keys: dict, rows: list[dict], schema: pa.Schema) -> pa.Table:
    """Group-key columns plus one sketch row per group -> ``schema``
    (a NaN quantile ships as NULL)."""
    return pa.table(
        [keys[f.name] if f.name in keys
         else pa.array([r[f.name] for r in rows], f.type, from_pandas=True)
         for f in schema],
        schema=schema,
    )


def _sketch_build(part: DataFrame, group_cols: list[str], monoid: _Monoid) -> DataFrame:
    """Per-group sketches of ``part`` (``group_cols`` + the value
    ``_v``): one mapInArrow pass collapses each Arrow batch to one
    partial row per group (NULL keys are groups of their own), which
    ``_sketch_rollup`` merges per key — the shuffle carries one
    partial sketch per (task, group), never a row per value."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty; roll up to "
                         "global with the family's merge_*(sketches, [])")
    keys = [T.StructField(c, part.schema[c].dataType, monoid.null_keys) for c in group_cols]
    schema = T.StructType(keys + (monoid.partial_fields or monoid.fields))
    pa_schema = to_arrow_schema(schema)

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if not batch.num_rows:
                continue
            groups = pa.Table.from_batches([batch]).group_by(
                group_cols, use_threads=False
            ).aggregate([("_v", "list")])
            rows = [monoid.partial(v.values.drop_null()) for v in groups.column("_v_list")]
            keys = {c: groups.column(c) for c in group_cols}
            yield from _sketch_table(keys, rows, pa_schema).to_batches()

    return _sketch_rollup(part.mapInArrow(partials, schema), group_cols, monoid)


def _sketch_rollup(sketches: DataFrame, group_cols: list[str], monoid: _Monoid) -> DataFrame:
    """Merge sketch rows per ``group_cols`` key (one applyInArrow), or
    to one global row with ``group_cols=[]`` via a constant ``_g``
    key that is dropped again."""
    tmp = sketches if group_cols else sketches.withColumn("_g", F.lit(0))
    keys = group_cols or ["_g"]
    fields = [T.StructField(c, tmp.schema[c].dataType, monoid.null_keys) for c in keys]
    schema = T.StructType(fields + monoid.fields)
    pa_schema = to_arrow_schema(schema)

    def merge(tbl: pa.Table) -> pa.Table:
        first = {c: tbl.column(c).slice(0, 1) for c in keys}
        return _sketch_table(first, [monoid.merge(tbl)], pa_schema)

    out = tmp.groupBy(*keys).applyInArrow(merge, schema)
    return out if group_cols else out.drop("_g")


def _flat(rows: pa.Table, col: str) -> np.ndarray:
    """Every row's list ``col`` concatenated in row order."""
    return pc.list_flatten(rows.column(col)).to_numpy()


def _tdigest_merge(rows: pa.Table) -> dict:
    # merging the concatenated centroids of every row equals merging
    # the rows' digests one by one
    d = tdigest.merge_digests([_flat(rows, "digest")])
    # an all-NULL group's empty digest has NaN quantiles, which Arrow
    # ships as NULL — F.percentile's answer over all-NULL input
    p50, p90, p99 = tdigest.quantile(d, np.array([0.5, 0.9, 0.99]))
    return {"len_tdigest": d, "len_p50": p50, "len_p90": p90, "len_p99": p99}


_TDIGEST = _Monoid(
    [T.StructField("len_tdigest", T.ArrayType(T.DoubleType()), False)]
    + [T.StructField(f"len_p{p}", T.DoubleType(), True) for p in (50, 90, 99)],
    lambda v: {"digest": tdigest.digest_from_values(v.to_numpy(zero_copy_only=False))},
    _tdigest_merge,
    [T.StructField("digest", T.ArrayType(T.DoubleType()), False)],
    null_keys=False,  # prepared_scan's (repo_bucket, lang) are never NULL
)


def length_tdigests(corpus: DataFrame, config: ValidationConfig) -> DataFrame:
    """Per-(repo_bucket, lang) t-digest of content lengths.

    Partial digests collapse each Arrow batch to ~100 centroids per
    key, so the shuffle carries ~1.6 KB per (task, key) instead of
    raw lengths — mergeable sketch, same scale story as histograms.
    A group whose content is all NULL gets an empty digest and NULL
    quantiles.
    """
    # per-row prep (bucket, lang-norm, length) is JVM-side codegen
    part = prepared_scan(corpus, config.n_repo_buckets).select(
        F.col("_b").alias("repo_bucket"), F.col("_l").alias("lang"), F.col("_len").alias("_v")
    )
    return _sketch_build(part, ["repo_bucket", "lang"], _TDIGEST)


def distinct_sketches(
    corpus: DataFrame, col: str, group_cols: list[str] | None = None,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group MERGEABLE distinct-count sketches (Datasketches HLL
    via Spark's hll_sketch_agg) — unlike approx_count_distinct (whose
    HLL++ state is consumed by the agg), these sketch columns are a
    reusable monoid: persist per-partition sketches once, then answer
    ANY rollup (per-bucket, per-lang, global, arbitrary unions) with
    hll_union_agg over kilobyte blobs instead of rescanning 100 TB —
    the same commit-partials-finalize-narrow shape as the histogram
    and t-digest monoids.
    """
    group_cols = group_cols if group_cols is not None else ["lang"]
    return corpus.groupBy(*group_cols).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("sketch"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def merge_distinct_sketches(sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Roll sketches up to coarser groups (or global with group_cols=[])
    via hll_union_agg; estimate = hll_sketch_estimate."""
    return sketches.groupBy(*(group_cols or [])).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_estimate"),
        F.sum("n_rows").alias("n_rows"),
    )


def unigram_divergence(
    corpus: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group distribution-shift report: KL(P_group || P_corpus)
    over lowercased whitespace unigrams, plus token/vocabulary counts —
    the mixture-drift metric that flags a source whose language has
    moved away from the blend (new crawl snapshot suddenly full of
    boilerplate, a wiki dump switching language, ...). KL is finite by
    construction: every group term is a corpus term, so q > 0.

    Plan shape: one scan -> explode -> groupBy(group, term) with
    map-side partials (shuffled volume is per-task DISTINCT terms, not
    occurrences); corpus marginals derive from that same counts table
    (vocabulary-sized, NOT a second scan) and join back on the term
    key; the final per-group reduce is O(groups). Content leaves the
    scan only as individual terms. Sums are f64 over probabilities
    rounded at 1e-6 — engine-replayable.
    """
    # the shared LM/KL/TF-IDF tokenizer (one definition, oracles
    # replay it verbatim); local import keeps core->pipeline layering
    # lazy
    from sparkval.pipeline.text import _ws_tokens

    terms = corpus.filter(F.trim(F.col(text_col)) != "").select(
        F.col(group_col).alias("group"),
        F.explode(_ws_tokens(text_col)).alias("term"),
    )
    counts = terms.groupBy("group", "term").agg(F.count(F.lit(1)).alias("n"))
    corpus_counts = counts.groupBy("term").agg(F.sum("n").alias("n_corpus"))
    corpus_total = counts.agg(F.sum("n").alias("_total"))
    group_totals = counts.groupBy("group").agg(F.sum("n").alias("n_tokens"))
    joined = (
        counts.join(corpus_counts, "term")
        .join(F.broadcast(group_totals), "group")
        .crossJoin(F.broadcast(corpus_total))  # 1-row scalar, not data
    )
    p = F.col("n") / F.col("n_tokens")
    q = F.col("n_corpus") / F.col("_total")
    return (
        joined.groupBy("group")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_terms"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier flags: a row is an outlier when its
    absolute deviation from the group median exceeds ``k`` scaled
    MADs (median absolute deviation x 1.4826, the consistency
    constant that makes MAD estimate sigma under normality) — the
    standard robust alternative to z-scores for validating numeric
    columns whose distributions have heavy tails (mean/std are
    themselves dragged by the outliers they should flag).

    Two exact-percentile passes (median, then MAD over deviations)
    with the O(groups) aggregates broadcast back — percentile() is
    the interpolating exact quantile on both Spark and the SQL
    oracle's quantile_cont. Adds ``group_median``, ``group_mad``,
    ``abs_dev``, ``is_outlier``. A group whose MAD is 0 (>=50% of
    values identical) flags every value differing from the median,
    the documented MAD-rule degeneracy; callers wanting a floor pass
    a pre-filtered frame."""
    med = df.groupBy(group_col).agg(
        F.percentile(value_col, 0.5).alias("group_median")
    )
    dev = df.join(F.broadcast(med), group_col).withColumn(
        "abs_dev", F.abs(F.col(value_col) - F.col("group_median"))
    )
    mad = dev.groupBy(group_col).agg(
        F.percentile("abs_dev", 0.5).alias("group_mad")
    )
    return dev.join(F.broadcast(mad), group_col).withColumn(
        "is_outlier",
        F.col("abs_dev") > F.lit(k) * F.lit(1.4826) * F.col("group_mad"),
    )


def _bin_index(v, lo, width, n_bins: int, clamp_low: bool):
    """Closed-form equal-width bin index shared by psi_report (pinned
    literal bounds, clamped at both ends) and numeric_histogram
    (data-derived Column bounds, lower clamp unnecessary: v >= lo by
    construction). floor((v - lo) / width) with the top edge pinned
    into the last bin."""
    raw = F.floor((v - lo) / width)
    if clamp_low:
        raw = F.greatest(raw, F.lit(0))
    return F.least(raw, F.lit(n_bins - 1)).cast("long")


def psi_report(
    current: DataFrame,
    reference: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Population Stability Index between a reference snapshot's and
    the current snapshot's distribution of ``value_col`` — the
    standard production-ML drift gate (PSI < 0.1 stable, 0.1-0.25
    moderate shift, > 0.25 action): PSI = sum_i (p_i - q_i) *
    ln(p_i / q_i) over fixed-width bins.

    Bins are CLOSED-FORM from explicit ``[lo, hi)`` bounds (callers
    pin them from the reference's known domain), clamped at both
    ends, so binning is engine-replayable and snapshot-independent —
    data-driven bounds would make PSI values incomparable across
    runs. Laplace smoothing (+0.5 per bin) keeps empty bins finite.

    Plan shape: each side collapses to O(groups x n_bins) bin counts
    at the scan (map-side partials); the join + PSI fold happen on
    those tiny tables. Two scans total, nothing wider than a bin id
    shuffles. Output: one row per group with ``psi`` (1e-6),
    ``n_current``, ``n_reference``.
    """
    if n_bins <= 0 or not hi > lo:
        raise ValueError(f"need n_bins > 0 and hi > lo: {n_bins}, {lo}, {hi}")
    width = (hi - lo) / n_bins
    groups = [F.col(group_col)] if group_col else [F.lit("all").alias("group")]
    gname = group_col if group_col else "group"

    def bin_counts(df: DataFrame, alias: str) -> DataFrame:
        b = _bin_index(
            F.col(value_col), F.lit(lo), F.lit(width), n_bins, clamp_low=True
        )
        return (
            df.filter(F.col(value_col).isNotNull())
            .select(*groups, b.alias("bin"))
            .groupBy(gname, "bin")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    cur = bin_counts(current, "n_cur")
    ref = bin_counts(reference, "n_ref")
    j = cur.join(ref, [gname, "bin"], "full_outer").select(
        gname,
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
    )
    totals = j.groupBy(gname).agg(
        F.sum("n_cur").alias("_tc"),
        F.sum("n_ref").alias("_tr"),
        F.count(F.lit(1)).alias("_nb"),
    )
    # _nb counts OBSERVED bins; smoothing denominators use n_bins, and
    # bins absent from BOTH sides are EXCLUDED from the sum (they never
    # appear in j). Note this is not identical to densifying first:
    # an absent bin's smoothed p = 0.5/(_tc + 0.5*n_bins) and
    # q = 0.5/(_tr + 0.5*n_bins) differ whenever the two totals differ,
    # so a true all-bins smoothed PSI would add those tiny terms — the
    # exclusion is the documented contract here (ADVICE r5)
    w = j.join(F.broadcast(totals), gname)
    p = (F.col("n_cur") + 0.5) / (F.col("_tc") + 0.5 * n_bins)
    q = (F.col("n_ref") + 0.5) / (F.col("_tr") + 0.5 * n_bins)
    return (
        w.groupBy(gname)
        .agg(
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
            F.sum("n_cur").alias("n_current"),
            F.sum("n_ref").alias("n_reference"),
        )
    )


# --------------------------------------------------------------------------
# hashing sketches: count-min frequency, Bloom membership, KMV overlap
# --------------------------------------------------------------------------

def _counted(name: str, sketch: Callable[[pa.Array], np.ndarray], merge) -> _Monoid:
    """A fixed-size int64 sketch column ``name`` plus ``n_values``, the
    non-NULL values it absorbed (count-min, Bloom)."""
    return _Monoid(
        [T.StructField(name, _LONGS, False), T.StructField("n_values", T.LongType(), False)],
        lambda values: {name: sketch(values), "n_values": len(values)},
        lambda rows: {
            name: merge(_list_matrix(rows.column(name))),
            "n_values": int(pc.sum(rows.column("n_values")).as_py()),
        },
    )


def _countmin_monoid(depth: int = 4, width: int = 2048) -> _Monoid:
    from sparkval import countmin

    def sketch(values: pa.Array) -> np.ndarray:
        # hash each distinct value once, weighted by its batch count
        vc = pc.value_counts(values)
        return countmin.update(
            countmin.empty_sketch(depth, width), vc.field("values").to_pylist(),
            vc.field("counts").to_numpy(), depth, width,
        )

    return _counted("sketch", sketch, countmin.merge)


def _bloom_monoid(k: int = 4, m_bits: int = 1 << 20) -> _Monoid:
    from sparkval import bloom

    def sketch(values: pa.Array) -> np.ndarray:
        return bloom.add(bloom.empty_filter(m_bits), pc.unique(values).to_pylist(), k, m_bits)

    return _counted("filter", sketch, bloom.merge)


def _kmv_monoid(k: int = 256) -> _Monoid:
    from sparkval import kmv

    return _Monoid(
        [T.StructField("sketch", _LONGS, False)],
        lambda values: {"sketch": kmv.sketch_of(pc.unique(values).to_pylist(), k)},
        # union-then-k-smallest of the concatenation = of the rows
        lambda rows: {"sketch": kmv.merge([_flat(rows, "sketch")], k)},
    )


def countmin_sketches(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Per-group count-min sketches over a categorical column — the
    heavy-hitter companion to the histogram/t-digest/HLL monoids:
    partial sketches sum elementwise, so persisted sketches answer
    frequency queries over ANY group rollup without rescanning. A
    partial is depth*width longs (~64 KB at the 4x2048 default) per
    (task, group). The hash chain (md5 prefix + mod-prime mixing,
    sparkval.countmin) is engine-replayable, so estimates carry a
    FULL value oracle."""
    group_cols = group_cols if group_cols is not None else ["lang"]
    # spread a few-partition input before the Python sketch kernel
    # (no-op whenever partitions >= slots — see _spread_small_input)
    part = _spread_small_input(df.select(*group_cols, _sketch_value(col)))
    return _sketch_build(part, group_cols, _countmin_monoid(depth, width))


def merge_countmin(
    sketches: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Roll count-min sketches up to coarser groups (global with
    ``group_cols=[]``) — elementwise sum over kilobyte blobs, the
    monoid op. Same shape as merge_distinct_sketches."""
    return _sketch_rollup(sketches, group_cols or [], _countmin_monoid())


def _chain_positions(h0: F.Column, n: int, m: int) -> list[F.Column]:
    """The n positions in [0, m) of base hash ``h0`` under the shared
    mod-prime chain (countmin.buckets, bloom.positions) as codegen."""
    from sparkval.countmin import P, row_coeffs

    return [((F.lit(a) * h0 + F.lit(b)) % F.lit(P)) % F.lit(m) for a, b in row_coeffs(n)]


def countmin_estimate_expr(
    term_col: str,
    sketch_col: str = "sketch",
    depth: int = 4,
    width: int = 2048,
) -> F.Column:
    """Point-frequency estimate as a PURE codegen expression over a
    sketch array column: h0 = first 8 md5 hex chars (conv base 16),
    bucket_j from the same mod-prime mixing as the numpy kernel, and
    the estimate is least() over depth element_at lookups — so
    querying a broadcast sketch costs no Python at all."""
    buckets = _chain_positions(bloom_h0_expr(term_col), depth, width)
    return F.least(*[
        F.element_at(F.col(sketch_col), (F.lit(j * width) + bucket + 1).cast("int"))
        for j, bucket in enumerate(buckets)
    ])


def bloom_filters(
    df: DataFrame,
    col: str,
    group_cols: list[str] | None = None,
    k: int = 4,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """Per-group Bloom filters over a value column — the MEMBERSHIP
    monoid (sparkval.bloom) beside the frequency one: partial bit
    arrays OR together, so persisted filters answer "seen in ANY
    group union" without rescanning. A partial is m_bits/64 longs
    (~128 KB at the 2^20 default) per (task, group), and the merged
    filter broadcasts as ONE ROW no matter how many values went in,
    unlike a distinct-hash-set broadcast that grows with the input.
    Hashing is engine-replayable (md5 prefix + mod-prime chain), so
    membership answers carry a FULL value oracle."""
    group_cols = group_cols if group_cols is not None else ["lang"]
    # spread the narrow projection, as countmin_sketches does
    part = _spread_small_input(df.select(*group_cols, _sketch_value(col)))
    return _sketch_build(part, group_cols, _bloom_monoid(k, m_bits))


def merge_bloom(
    filters: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Roll Bloom filters up to coarser groups (global with
    ``group_cols=[]``) — elementwise bitwise OR, the monoid op."""
    return _sketch_rollup(filters, group_cols or [], _bloom_monoid())


def bloom_h0_expr(term) -> F.Column:
    """The base hash of the Bloom and count-min chain (first 8 md5
    hex chars as a long) as its own expression — split out so hot
    probe paths can evaluate the md5 ONCE per term (via transform)
    instead of once per bit test: inside a higher-order lambda Spark
    does not common-subexpression-eliminate, so the composed form
    pays k md5+conv per term."""
    term = F.col(term) if isinstance(term, str) else term
    # hash the string form, as the build side does (_sketch_value);
    # int -> binary is no cast under ANSI
    return F.conv(
        F.substring(F.md5(term.cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")


def bloom_h0_contains_expr(
    h0, filter_col: str = "filter", k: int = 4, m_bits: int = 1 << 20
) -> F.Column:
    """Membership probe given a base hash (``bloom_h0_expr``) as a PURE
    codegen boolean expression over a filter array column: the k bit
    positions from the same mod-prime mixing as the numpy kernel, each
    tested with getbit() on the packed long — so probing a broadcast
    filter costs no Python and dies map-side inside WholeStageCodegen."""
    h0 = F.col(h0) if isinstance(h0, str) else h0
    bits = []
    for pos in _chain_positions(h0, k, m_bits):
        word = F.element_at(
            F.col(filter_col), F.shiftright(pos, 6).cast("int") + F.lit(1)
        )
        bits.append(F.getbit(word, (pos % F.lit(64)).cast("int")) == F.lit(1))
    out = bits[0]
    for bit in bits[1:]:
        out = out & bit
    return out


def kmv_sketches(
    df: DataFrame,
    col,
    group_cols: list[str] | None = None,
    k: int = 256,
) -> DataFrame:
    """Per-group KMV (k-minimum-values) sketches over a value column
    or expression — the SET-OVERLAP monoid (sparkval.kmv): partials
    keep the k smallest distinct md5-prefix hashes and merge by
    union-then-k-smallest, so persisted sketches answer BOTH
    distinct-count and cross-group Jaccard questions without
    rescanning — the estimate group_overlap_matrix's exact
    shingle-join cannot give at fleet scale. A partial is <= k longs
    (~2 KB at the default) per (task, group). ``col`` may be a
    column name or a string-typed Column (e.g. a shingle expression
    evaluated inside the scan). Hashing and estimators are
    engine-replayable, so sketches AND estimates carry a FULL value
    oracle."""
    group_cols = group_cols if group_cols is not None else ["lang"]
    # the value may be an expensive expression (e.g. shingles over
    # text): spread the RAW input first so it evaluates on every
    # core, not on 1-2 scan partitions (no-op at scale)
    part = _spread_small_input(df).select(*group_cols, _sketch_value(col))
    return _sketch_build(part, group_cols, _kmv_monoid(k))


def merge_kmv(
    sketches: DataFrame, group_cols: list[str] | None = None, k: int = 256
) -> DataFrame:
    """Roll KMV sketches up to coarser groups (global with
    ``group_cols=[]``) — union then k smallest, the monoid op."""
    return _sketch_rollup(sketches, group_cols or [], _kmv_monoid(k))


def kmv_distinct_expr(sketch_col: str = "sketch", k: int = 256) -> F.Column:
    """Distinct-count estimate as a PURE codegen expression over a
    sorted KMV sketch array: exact size below saturation, else
    (k-1) * 2^32 / h_(k)."""
    s = F.size(F.col(sketch_col))
    hk = F.element_at(F.col(sketch_col), k).cast("double")
    return F.when(s < k, s.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(4294967296.0) / hk
    )


def kmv_jaccard_expr(
    a_col: str, b_col: str, k: int = 256
) -> F.Column:
    """Jaccard estimate between two sorted KMV sketch arrays as PURE
    codegen: X = k smallest of the union (array ops), estimate =
    |X ∩ A ∩ B| / |X|."""
    x = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col(a_col), F.col(b_col)))),
        1,
        k,
    )
    both = F.size(
        F.array_intersect(F.array_intersect(x, F.col(a_col)), F.col(b_col))
    )
    return F.when(F.size(x) == 0, F.lit(0.0)).otherwise(
        both.cast("double") / F.size(x).cast("double")
    )


def kmv_overlap(
    sketches: DataFrame, group_col: str, k: int = 256
) -> DataFrame:
    """Pairwise set-overlap report from a KMV sketch table alone: for
    every group pair a < b, the estimated Jaccard of their value sets
    plus each side's estimated distinct count — group_overlap_matrix's
    answer WITHOUT the exact gram self-join, from O(groups) kilobyte
    rows. This is the fleet-scale path: persist per-shard sketches,
    merge_kmv to groups, then this O(G^2 k) comparison runs on the
    driver-side-tiny sketch table while the corpus is never
    rescanned. Pure codegen estimators over sorted arrays."""
    a = sketches.select(
        F.col(group_col).alias("group_a"), F.col("sketch").alias("_sa")
    )
    b = sketches.select(
        F.col(group_col).alias("group_b"), F.col("sketch").alias("_sb")
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            kmv_jaccard_expr("_sa", "_sb", k).alias("est_jaccard"),
            kmv_distinct_expr("_sa", k).alias("est_distinct_a"),
            kmv_distinct_expr("_sb", k).alias("est_distinct_b"),
        )
    )


def skew_report(
    df: DataFrame,
    key_cols: list[str],
    n_top: int = 10,
    n_partitions: int = 32,
) -> DataFrame:
    """Join/agg-key skew diagnostics — the report to run BEFORE
    keying a 100 TB shuffle on a column: top-``n_top`` heaviest keys
    with their row shares, the distinct-key count, and a suggested
    salt-bucket count for the hottest key
    (``ceil(max_share * n_partitions)`` — enough buckets that the hot
    key's per-bucket load matches an even task share; 1 means no
    salting needed). This is how per_repo_stats' salt_buckets and
    AQE's skew thresholds get chosen from data instead of folklore.

    Plan: one map-side-combined groupBy over the keys (the O(distinct
    keys) shuffle this report exists to protect), a TakeOrdered top-k
    (deterministic ties: count desc, then key), and one broadcast
    totals row; the rank window runs over the n_top-row result only —
    explicitly bounded, never corpus-sized."""
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    totals = counts.agg(
        F.sum("_n").alias("_total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("_n").alias("_max_n"),
    )
    order = [F.desc("_n")] + [F.asc(c) for c in key_cols]
    top = counts.orderBy(*order).limit(n_top)
    w = Window.orderBy(*order)
    share = F.col("_n").cast("double") / F.col("_total").cast("double")
    max_share = F.col("_max_n").cast("double") / F.col("_total").cast("double")
    return (
        top.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            *key_cols,
            F.col("_n").alias("n_rows"),
            share.alias("key_share"),
            "n_keys",
            F.col("_total").alias("total_rows"),
            max_share.alias("max_share"),
            F.greatest(
                F.lit(1),
                F.ceil(max_share * F.lit(n_partitions)).cast("int"),
            ).alias("suggested_salt_buckets"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    n_ranks: int = 100,
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares line
    through (ln rank, ln frequency) for the top-``n_ranks`` terms —
    natural-language corpora sit near alpha ~ 1; a far-off alpha (or
    a poor r2) flags templated/synthetic/spammy text at the corpus
    level the way per-doc quality rules cannot. Returns one row:
    (n_terms_fit, vocab_size, alpha, intercept, r2) with
    alpha = -slope.

    Plan: one map-side-combined term count (the vocabulary-sized
    shuffle), a TakeOrdered top-``n_ranks`` (deterministic ties:
    count desc then term), a rank window over those n_ranks rows
    only, and closed-form regression sums over that bounded table —
    no corpus-sized sort, no Python."""
    from sparkval.pipeline.text import _ws_tokens

    counts = (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.explode(_ws_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = F.broadcast(counts.agg(F.count(F.lit(1)).alias("vocab_size")))
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(n_ranks)
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    xy = top.withColumn("rank", F.row_number().over(w)).select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    cov = m * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = m * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = m * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / varx
    intercept = (F.col("sy") - slope * F.col("sx")) / m
    r2 = (cov * cov) / (varx * vary)
    return s.crossJoin(vocab).select(
        F.col("m").cast("long").alias("n_terms_fit"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        (-slope).alias("alpha"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.5,
) -> DataFrame:
    """APPLY step for ``mad_outliers``: clip each value into
    [median - k*1.4826*MAD, median + k*1.4826*MAD] of its group —
    winsorization, the remedy that keeps the row but caps the
    outlier's leverage (dropping rows biases aggregates; capping
    bounds them). Adds ``lo_bound``, ``hi_bound``, ``was_clipped``
    and ``<value_col>_winsorized``; the detect/apply pair shares one
    definition of the bounds, so a row is clipped iff mad_outliers
    flags it. Same plan budget: two exact-percentile passes with
    O(groups) aggregates broadcast back, then a pure projection."""
    flagged = mad_outliers(df, value_col, group_col, k)
    half = F.lit(k) * F.lit(1.4826) * F.col("group_mad")
    lo = F.col("group_median") - half
    hi = F.col("group_median") + half
    return (
        flagged.withColumn("lo_bound", lo)
        .withColumn("hi_bound", hi)
        .withColumn("was_clipped", F.col("is_outlier"))
        .withColumn(
            f"{value_col}_winsorized",
            F.greatest(F.least(F.col(value_col), hi), lo),
        )
        .drop("abs_dev", "is_outlier")
    )


# --------------------------------------------------------------------------
# distribution-conformance gates: KS drift, Benford digits, chi-square
# independence — the classical statistical tests a validation engine
# runs next to PSI (drift.rs's score-tolerance gates recast as
# distribution-distance assertions, per SURVEY §2.7)
# --------------------------------------------------------------------------

def _tagged_counts(
    current: DataFrame,
    reference: DataFrame,
    value_col: str,
    group_col: str | None,
    value: F.Column,
) -> tuple[DataFrame, str]:
    """Both sides' non-NULL ``value_col`` (as ``value``) collapsed to
    per-(group, v) counts ``n_cur`` / ``n_ref`` — a tagged union with
    map-side partial agg, one shuffle on (group, v) — and the group
    column's name (a constant ``group`` = "all" without ``group_col``).
    The ks_drift / wasserstein_drift scan."""
    groups = [F.col(group_col)] if group_col else [F.lit("all").alias("group")]
    gname = group_col if group_col else "group"

    def side(df: DataFrame, cur: int) -> DataFrame:
        return df.filter(F.col(value_col).isNotNull()).select(
            *groups, value.alias("v"), F.lit(cur).alias("c"), F.lit(1 - cur).alias("r")
        )

    u = side(current, 1).unionByName(side(reference, 0)).groupBy(gname, "v").agg(
        F.sum("c").alias("n_cur"), F.sum("r").alias("n_ref")
    )
    return u, gname


def _ecdf_sums(gname: str) -> list[F.Column]:
    """Per-group running (``cum_*``) and total (``tot_*``) sums of the
    tagged counts ordered by v — the two ECDFs' steps."""
    run = (
        Window.partitionBy(gname)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(gname)
    return [
        F.sum("n_cur").over(run).alias("cum_cur"),
        F.sum("n_ref").over(run).alias("cum_ref"),
        F.sum("n_cur").over(tot).alias("tot_cur"),
        F.sum("n_ref").over(tot).alias("tot_ref"),
    ]


def _cdf(cum: str, tot: str) -> F.Column:
    return F.when(F.col(tot) > 0, F.col(cum) / F.col(tot))


def ks_drift(
    current: DataFrame,
    reference: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic D = max |F_cur(v) -
    F_ref(v)| between the current and reference distributions of
    ``value_col``, optionally per group — the binning-free companion
    to ``psi_report`` (PSI needs pinned bounds; KS compares the raw
    ECDFs, so it also catches shifts PSI's coarse bins smear out).

    Plan shape: both sides collapse to per-(group, distinct value)
    tagged counts at the scan (map-side partial agg on the union —
    one shuffle on (group, v)), then a running-sum window per group
    ordered by value turns counts into ECDF steps, and a final
    per-group max-abs fold emits one row per group. The window
    partitions by group, so parallelism scales with group count; for
    unbounded-cardinality doubles, quantize ``value_col`` upstream
    (the ECDF of the quantized variable bounds D within one bin
    mass). Ties across sides are exact: both ECDFs step at the same
    distinct-value row.

    Output: ``group, ks_d (1e-6), n_current, n_reference``.
    """
    u, gname = _tagged_counts(current, reference, value_col, group_col, F.col(value_col))
    w = u.select(gname, *_ecdf_sums(gname))
    # a group present on only ONE side has no two-sample statistic:
    # its cdf guard nulls the gap, ks_d comes out NULL, and the
    # report still shows the zero count — a validation gate should
    # surface one-sided groups, not crash on the 0-denominator
    gap = F.abs(_cdf("cum_cur", "tot_cur") - _cdf("cum_ref", "tot_ref"))
    return w.groupBy(gname).agg(
        F.round(F.max(gap), 6).alias("ks_d"),
        F.max("tot_cur").alias("n_current"),
        F.max("tot_ref").alias("n_reference"),
    )


# P(first digit = d) = log10(1 + 1/d), d = 1..9 — evaluated once in
# Python so every engine (Spark plan, SQL oracle) sees the identical
# IEEE-754 double literals instead of its own libm's log10.
BENFORD_P: tuple[float, ...] = tuple(
    float(np.log10(1.0 + 1.0 / d)) for d in range(1, 10)
)


def benford_report(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Benford first-significant-digit conformance per group — the
    classic fabricated-/degenerate-numeric-column detector: natural
    multi-scale magnitudes follow P(d) = log10(1 + 1/d); constants,
    sequences, and truncated columns do not.

    The leading digit is taken from the DECIMAL STRING of
    floor(value) (rows with value < 1 are excluded), not from
    value / 10^floor(log10 v) — floor + string-head is exact integer
    arithmetic, so Spark and any SQL oracle agree bit-for-bit, while
    the log10 form can flip a digit on a 1-ulp log difference. The
    nine Benford masses are baked in as LITERAL doubles
    (``BENFORD_P``, computed once in Python) rather than evaluated
    with the engine's log10, for the same cross-engine determinism.

    Single scan to O(groups x 9) digit counts (map-side combine),
    then per-group chi-square against the Benford masses using the
    missing-digit-closed identity chi2 = sum_obs (o-e)^2/e + n -
    sum_obs e (an unobserved digit contributes exactly its expected
    count e), so no densify step is needed.

    Output: one row per (group, digit) with ``n_obs``, ``p_obs``,
    ``p_benford`` and the group-level ``chi2`` (df = 8; 15.51 is the
    5% critical value) repeated on each row for drilldown-friendly
    reporting.
    """
    groups = [F.col(group_col)] if group_col else [F.lit("all").alias("group")]
    gname = group_col if group_col else "group"
    digit = F.substring(
        F.floor(F.col(value_col)).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(F.col(value_col) >= 1)
        .select(*groups, digit.alias("digit"))
        .groupBy(gname, "digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    tot = Window.partitionBy(gname)
    n = F.sum("n_obs").over(tot)
    p_exp = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_P]), F.col("digit")
    )
    e = n * p_exp
    w = counts.select(
        gname,
        "digit",
        "n_obs",
        n.alias("n"),
        e.alias("e"),
        F.round(p_exp, 6).alias("p_benford"),
    )
    # (o-e)*(o-e), not pow(o-e, 2): pow routes through libm/Math.pow,
    # whose last-ulp behavior differs across engines; the product is
    # one IEEE multiply everywhere
    dev = F.col("n_obs") - F.col("e")
    chi2_term = dev * dev / F.col("e")
    grp = Window.partitionBy(gname)
    chi2 = (
        F.sum(chi2_term).over(grp)
        + F.col("n")
        - F.sum("e").over(grp)
    )
    return w.select(
        gname,
        "digit",
        "n_obs",
        F.round(F.col("n_obs") / F.col("n"), 6).alias("p_obs"),
        "p_benford",
        F.round(chi2, 6).alias("chi2"),
    )


def chi2_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns (e.g. lang x source): are languages
    distributed the same way across sources, or does some source
    carry a skewed language mix? The summary companion to
    ``unigram_divergence``'s per-group KL drilldown.

    chi2 = sum_cells (o - e)^2 / e with e = row_total * col_total /
    n, plus Cramer's V = sqrt(chi2 / (n * (min(R,C) - 1))) as the
    [0,1] effect size (sample-size-free, comparable across runs).
    Cells absent from the data (o = 0) contribute exactly their
    expected count e, and sum_all_cells e = n, so the sum runs over
    OBSERVED cells only via the closed identity chi2 =
    sum_obs (o-e)^2/e + n - sum_obs e — no cross-join densify. V is
    NULL when either axis has a single level (undefined, dof = 0).

    One scan to O(R x C) cell counts; marginals come from windows
    over that tiny table, so nothing wider than the contingency
    table shuffles. Output: a single summary row ``chi2, dof,
    cramers_v, n_rows, n_row_levels, n_col_levels``.
    """
    cells = (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(row_col, col_col)
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rw = Window.partitionBy(row_col)
    cw = Window.partitionBy(col_col)
    aw = Window.partitionBy()
    w = cells.select(
        "o",
        F.sum("o").over(rw).alias("rt"),
        F.sum("o").over(cw).alias("ct"),
        F.sum("o").over(aw).alias("n"),
        F.dense_rank().over(Window.partitionBy().orderBy(row_col)).alias("ri"),
        F.dense_rank().over(Window.partitionBy().orderBy(col_col)).alias("ci"),
    )
    # cast BEFORE multiplying: long*long overflows at 10^12-row scale
    # (rt*ct ~ 10^24); double*double stays exact below 2^53 and
    # degrades gracefully above
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    dev = F.col("o") - e
    chi2 = F.sum(dev * dev / e) + F.max("n") - F.sum(e)
    min_levels = F.least(F.max("ri"), F.max("ci"))
    return w.agg(
        F.round(chi2, 6).alias("chi2"),
        ((F.max("ri") - 1) * (F.max("ci") - 1)).cast("bigint").alias("dof"),
        F.round(
            F.when(
                min_levels > 1,
                F.sqrt(chi2 / (F.max("n") * (min_levels - F.lit(1)))),
            ),
            6,
        ).alias("cramers_v"),
        F.max("n").alias("n_rows"),
        F.max("ri").cast("bigint").alias("n_row_levels"),
        F.max("ci").cast("bigint").alias("n_col_levels"),
    )


def rollup_stats(
    df: DataFrame,
    dims: list[str],
    value_col: str,
) -> DataFrame:
    """Hierarchical stats at EVERY grouping-set granularity in ONE
    scan — ``cube(dims)``: per-(all dims), per-(each subset), and
    grand total, each with n_rows / sum / mean / min / max of
    ``value_col``. The hypertable-rollup shape: a dashboard that
    drills lang -> (lang, source) -> total reads one precomputed
    table instead of issuing 2^|dims| scans.

    Spark expands the cube INSIDE the aggregate (each input row
    feeds 2^|dims| partial accumulators map-side; only O(groups x
    2^|dims|) aggregated rows shuffle), so the scan count stays 1 —
    cheaper than unioning per-granularity aggregates whenever the
    scan dominates, which at 100 TB it always does. NULL dim values
    would be ambiguous with the rollup's own NULLs, so each grouping
    level is labeled explicitly via grouping() flags into
    ``grouping_level`` (e.g. 'lang,source', 'lang', 'total').
    """
    if not dims:
        raise ValueError("rollup_stats needs at least one dim")
    # grouping() is only legal inside the cube's aggregate list, so
    # the level label is computed as an "aggregate" expression
    level = F.concat_ws(
        ",",
        F.array_compact(
            F.array(
                *[
                    F.when(F.grouping(d) == 0, F.lit(d)) for d in dims
                ]
            )
        ),
    )
    out = df.cube(*dims).agg(
        F.when(level == "", F.lit("total")).otherwise(level).alias(
            "grouping_level"
        ),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(value_col).alias("val_sum"),
        F.round(F.avg(value_col), 6).alias("val_mean"),
        F.min(value_col).alias("val_min"),
        F.max(value_col).alias("val_max"),
    )
    return out.select(
        "grouping_level",
        *dims,
        "n_rows",
        "val_sum",
        "val_mean",
        "val_min",
        "val_max",
    )


def _check_names(cols) -> None:
    """Column names are interpolated into selectExpr: enforce the safe
    class instead of producing a ParseException downstream."""
    for c in cols:
        if not re.fullmatch(r"[A-Za-z0-9_]+", c):
            raise ValueError(f"column name must be [A-Za-z0-9_]+: {c!r}")


def correlation_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation profile over numeric columns —
    the data-profiler's redundancy/linkage matrix (|r| ~ 1 between
    two "independent" feeds is a lineage bug worth an alert). All
    C(k,2) coefficients come from ONE hash aggregate over ONE scan
    (each corr is a streaming co-moment with map-side partials), then
    a stack() unpivot to long form: ``col_a, col_b, r, n_pairs``
    (n_pairs = rows where BOTH sides are non-null, matching corr's
    pairwise-deletion semantics).
    """
    if len(cols) < 2:
        raise ValueError("correlation_profile needs >= 2 columns")
    _check_names(cols)
    pairs = [
        (i, j) for i in range(len(cols)) for j in range(i + 1, len(cols))
    ]
    aggs = []
    for i, j in pairs:
        a, b = cols[i], cols[j]
        both = F.col(a).isNotNull() & F.col(b).isNotNull()
        # positional aliases: name-derived ones collide when a column
        # itself contains the separator (x__y)
        aggs.append(F.round(F.corr(a, b), 6).alias(f"__r_{i}_{j}"))
        aggs.append(F.sum(both.cast("long")).alias(f"__n_{i}_{j}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{cols[i]}', '{cols[j]}', __r_{i}_{j}, __n_{i}_{j}"
        for i, j in pairs
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, r, n_pairs)"
    )


def key_candidates(
    df: DataFrame, candidates: list[tuple[str, ...]]
) -> DataFrame:
    """Candidate-key profiling: for each column combination, how many
    distinct values exist, how many rows collide, and whether the
    combination is a key — the schema-discovery twin of fd_check
    (an FD X -> all-columns is exactly "X is a key").

    One scan, one aggregate: all count-distincts evaluate in a single
    pass (Catalyst expands the input once per distinct group —
    O(candidates) narrow row copies with map-side partial dedup, the
    standard multi-distinct plan), then the 1-row wide result unpivots
    via stack into one row per candidate. NULL caveat: countDistinct
    skips rows where any member column is NULL, so candidates over
    nullable columns under-count; profile null rates first
    (null_violations) when that matters.
    """
    _check_names(c for cand in candidates for c in cand)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, cand in enumerate(candidates):
        aggs.append(F.countDistinct(*cand).alias(f"__d_{i}"))
    wide = _spread_small_input(df).agg(*aggs)
    stack_args = ", ".join(
        f"'{'+'.join(cand)}', __d_{i}" for i, cand in enumerate(candidates)
    )
    long = wide.selectExpr(
        "__n", f"stack({len(candidates)}, {stack_args}) AS (candidate, n_distinct)"
    )
    return long.select(
        "candidate",
        F.col("__n").alias("n_rows"),
        "n_distinct",
        (F.col("__n") - F.col("n_distinct")).alias("dup_rows"),
        (F.col("__n") == F.col("n_distinct")).alias("is_key"),
    ).orderBy("candidate")


def wasserstein_drift(
    current: DataFrame,
    reference: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Two-sample Wasserstein-1 (earth-mover) distance between the
    current and reference distributions of ``value_col``, optionally
    per group — the integrated companion to ``ks_drift``: KS reports
    the WORST ECDF gap, W1 integrates ALL of them (sum over merged
    distinct values of |F_cur - F_ref| * gap-to-next-value), so a
    broad small shift that KS under-reports shows up at full weight,
    in the value column's own units.

    Same plan shape as ks_drift — both sides collapse to per-(group,
    distinct value) tagged counts at the scan, one shuffle on
    (group, v), then per-group running-sum + lead windows over the
    collapsed table. One-sided groups emit NULL w1 (no two-sample
    distance exists), with counts still reported. ``w1_norm``
    divides by the merged value range (scale-free, in [0, 1], NULL
    for a single-point support).
    """
    u, gname = _tagged_counts(
        current, reference, value_col, group_col, F.col(value_col).cast("double")
    )
    seq = Window.partitionBy(gname).orderBy("v")
    tot = Window.partitionBy(gname)
    w = u.select(
        gname,
        F.col("v"),
        (F.lead("v").over(seq) - F.col("v")).alias("dv"),
        *_ecdf_sums(gname),
        (F.max("v").over(tot) - F.min("v").over(tot)).alias("rng"),
    )
    contrib = F.abs(_cdf("cum_cur", "tot_cur") - _cdf("cum_ref", "tot_ref")) * F.col("dv")
    # two-sided groups always have a distance: a single-point support
    # (every contrib NULL because lead(v) is NULL on the only row) is
    # W1 = 0, not NULL — only genuinely one-sided groups emit NULL
    two_sided = (F.max("tot_cur") > 0) & (F.max("tot_ref") > 0)
    w1 = F.when(two_sided, F.coalesce(F.sum(contrib), F.lit(0.0)))
    return w.groupBy(gname).agg(
        F.round(w1, 6).alias("w1"),
        F.round(
            F.when(F.max("rng") > 0, w1 / F.max("rng")), 6
        ).alias("w1_norm"),
        F.max("tot_cur").alias("n_current"),
        F.max("tot_ref").alias("n_reference"),
    )


def proportion_drift(
    current: DataFrame,
    reference: DataFrame,
    flag,
    group_col: str | None = None,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Two-proportion z-test per group: is the rate of ``flag`` (any
    boolean Column) different between current and reference beyond
    sampling noise? The significance-testing sibling of chi2 (which
    tests independence inside ONE table) and psi/ks/w1 (which compare
    whole distributions): this one answers the narrower, most common
    monitoring question — "did the error rate move?" — with a noise
    floor, so small-sample wobbles don't page anyone.

    z = (p_cur - p_ref) / sqrt(p_pool (1 - p_pool) (1/n_cur + 1/n_ref))
    with the pooled rate p_pool = (k_cur + k_ref) / (n_cur + n_ref).
    NULL flags count as False (a missing flag is not a hit). Tagged
    union + ONE conditional-sum aggregate (the ks_drift/wasserstein
    pattern), so a NULL group key is one group on both sides — a
    join-on-key would split it into two unmatchable rows. O(groups)
    rows ever shuffle; z is NULL when either side is empty or the
    pooled rate is degenerate (0 or 1: no variance, nothing to test).
    """
    groups = [F.col(group_col)] if group_col else [F.lit("all").alias("group")]
    gname = group_col if group_col else "group"
    hit = F.coalesce(flag.cast("boolean"), F.lit(False)).cast("long")

    def side(df: DataFrame, cur: int) -> DataFrame:
        return df.select(
            *groups, hit.alias("__h"), F.lit(cur).alias("__c")
        )

    c = F.col("__c")
    u = side(current, 1).unionByName(side(reference, 0)).groupBy(gname).agg(
        F.sum(c).alias("n_cur"),
        F.sum(F.col("__h") * c).alias("k_cur"),
        F.sum(1 - c).alias("n_ref"),
        F.sum(F.col("__h") * (1 - c)).alias("k_ref"),
    )
    n_cur, k_cur = F.col("n_cur"), F.col("k_cur")
    n_ref, k_ref = F.col("n_ref"), F.col("k_ref")
    p_cur = F.when(n_cur > 0, k_cur / n_cur)
    p_ref = F.when(n_ref > 0, k_ref / n_ref)
    p_pool = (k_cur + k_ref) / (n_cur + n_ref)
    z = F.when(
        (n_cur > 0) & (n_ref > 0) & (p_pool > 0) & (p_pool < 1),
        (k_cur / n_cur - k_ref / n_ref)
        / F.sqrt(p_pool * (1 - p_pool) * (1 / n_cur + 1 / n_ref)),
    )
    return u.select(
        gname,
        n_cur.alias("n_current"),
        k_cur.alias("k_current"),
        n_ref.alias("n_reference"),
        k_ref.alias("k_reference"),
        F.round(p_cur, 6).alias("rate_current"),
        F.round(p_ref, 6).alias("rate_reference"),
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_drift"),
    ).orderBy(gname)


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int = 20,
    group_col: str | None = None,
) -> DataFrame:
    """Equal-width histogram profile of a numeric column, optionally
    per group — the TFDV/profiling staple for eyeballing a
    distribution and the pinned-bin input a PSI-style gate wants.
    Returns one row per (group, bin) with the bin's [lo, hi) edges
    and count; EMPTY bins are emitted with n = 0 (a gap in the
    support is information, and fixed-shape output diffs cleanly
    across snapshots). A single-point support collapses to bin 0.
    NULL and NaN values are excluded (NaN would poison the bounds
    and bin every engine differently); a NULL group key is a group
    like any other (null-safe joins throughout).

    Zero sorting: the per-group (min, max) bounds collapse at the
    scan and broadcast back into a closed-form bin-index projection
    (shared with psi_report) plus one hash aggregate; the dense bin
    grid is a sequence() explode over the O(groups) bounds table.
    The bounds subtree feeds two consumers (the bin projection and
    the grid), so worst case the column scans once more than the
    documented two passes when Catalyst cannot reuse the exchange —
    cache the input upstream if that matters. Shuffles carry
    O(groups x n_bins) rows only.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1: {n_bins}")
    if group_col in ("bin", "bin_lo", "bin_hi", "n"):
        raise ValueError(f"group_col collides with an output column: {group_col!r}")
    g = F.col(group_col) if group_col else F.lit("all")
    gname = group_col if group_col else "group"
    v = F.col(value_col).cast("double")
    vals = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        g.alias("__g"), v.alias("__v")
    )
    bounds = vals.groupBy("__g").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    b = F.broadcast(bounds).alias("b")
    binned = (
        vals.alias("v")
        .join(b, F.col("v.__g").eqNullSafe(F.col("b.__g")))
        .select(
            F.col("v.__g").alias("__g"),
            F.when(
                F.col("__hi") > F.col("__lo"),
                _bin_index(
                    F.col("__v"), F.col("__lo"), width, n_bins, clamp_low=False
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("__bin"),
        )
        .groupBy("__g", "__bin")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    dense = bounds.select(
        "__g", "__lo", "__hi",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("__bin"),
    )
    w_ = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    return (
        dense.alias("d")
        .join(
            binned.alias("c"),
            F.col("d.__g").eqNullSafe(F.col("c.__g"))
            & (F.col("d.__bin") == F.col("c.__bin")),
            "left",
        )
        .select(
            F.col("d.__g").alias(gname),
            F.col("d.__bin").cast("long").alias("bin"),
            F.round(F.col("__lo") + w_ * F.col("d.__bin"), 6).alias("bin_lo"),
            F.round(
                F.when(F.col("d.__bin") == n_bins - 1, F.col("__hi"))
                .otherwise(F.col("__lo") + w_ * (F.col("d.__bin") + 1)),
                6,
            ).alias("bin_hi"),
            F.coalesce(F.col("__n"), F.lit(0).cast("long")).alias("n"),
        )
        .orderBy(gname, "bin")
    )


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-scan whole-table column profile — the deequ/TFDV-style
    first look at an unfamiliar table: one output row per column with
    row count, null count, EXACT distinct count, and min/max (typed
    comparison, rendered as strings for the uniform output schema).

    Everything computes in ONE aggregate pass: Catalyst plans the
    multi-distinct via Expand (each input row copies once per
    profiled column, map-side partially deduped), so profiling N
    columns costs one scan plus an O(N x distinct values) shuffle —
    not N scans. For web-scale tables where exact distincts are too
    hot, use distinct_sketches (HLL) per column instead; this op is
    the exact, oracle-replayable form. Float columns profile fine
    internally, but min/max STRING RENDERINGS of floats differ
    across engines — keep them out of cross-engine comparisons.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("profile_table needs at least one column")
    _check_names(cols)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__d_{i}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__mn_{i}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__mx_{i}"))
    wide = _spread_small_input(df.select(*cols)).agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nn_{i}, __d_{i}, __mn_{i}, __mx_{i}"
        for i, c in enumerate(cols)
    )
    return (
        wide.selectExpr(
            "__n",
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_value, max_value)",
        )
        .select(
            "column_name",
            F.col("__n").alias("n_rows"),
            "n_nulls",
            "n_distinct",
            F.round(
                F.col("n_nulls") / F.greatest(F.col("__n"), F.lit(1)), 6
            ).alias("null_frac"),
            "min_value",
            "max_value",
        )
        .orderBy("column_name")
    )
