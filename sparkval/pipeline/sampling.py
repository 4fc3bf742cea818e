"""Deterministic, engine-portable sampling for training-data pipelines.

``df.sample`` is seed+partitioning dependent: the same fraction on the
same data yields different rows after a repartition, which breaks
reproducible dataset releases and cross-engine verification. These
operators key selection on a cryptographic hash of a stable id, so the
sample is a pure function of the data — identical across runs,
partitionings, Spark versions, and engines (a DuckDB oracle can
reproduce it exactly), and composable (a 20% sample is a superset of a
10% sample of the same column).

Scale notes: selection is a codegen'd filter on the scan — no shuffle,
no state; the predicate pushes down past column pruning so unsampled
rows cost only the id column read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: bucket space for per-mille thresholds
_BUCKETS = 1000


def _hash_bucket(id_col: str) -> F.Column:
    """Stable bucket in [0, 1000): first 4 hex chars of
    sha256(str(id)) as an integer, mod 1000. sha256 on the decimal
    string representation is the lowest common denominator every
    engine computes identically."""
    return (
        F.conv(F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 4), 16, 10)
        .cast("long")
        % _BUCKETS
    )


def _es_priority(id_col: str, weight_col: str):
    """Efraimidis-Spirakis exponential priority -ln(u)/w with the
    uniform u in (0,1] drawn from the row id's sha256 (first 12 hex
    chars = 48 bits). The 12-char width and 2^48 divisor are the
    DuckDB-oracle-pinned contract shared by priority_sample and
    stratified_priority_sample — change them in ONE place or not at
    all."""
    h = F.conv(
        F.substring(F.sha2(F.col(id_col).cast("string"), 256), 1, 12), 16, 10
    ).cast("long")
    u = (h + F.lit(1).cast("long")).cast("double") / F.lit(float(2**48))
    return -F.log(u) / F.col(weight_col).cast("double")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    permille: dict[str, int],
    id_col: str = "doc_id",
    default_permille: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix
    composition step (e.g. keep 50% of en, 25% of fr, drop the rest).
    Thresholds resolve via one CASE expression; unlisted strata get
    ``default_permille``."""
    for k, v in permille.items():
        if not 0 <= v <= _BUCKETS:
            raise ValueError(f"permille out of range for {k!r}: {v}")
    thr = F.lit(default_permille)
    for stratum, p in sorted(permille.items()):
        thr = F.when(F.col(strata_col) == stratum, F.lit(p)).otherwise(thr)
    return df.filter(_hash_bucket(id_col) < thr)


def hash_split(
    df: DataFrame,
    permille: dict[str, int] | None = None,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: each row's hash bucket
    (0..1000) falls into consecutive ranges sized by ``permille``
    (default 800/100/100), taken in dict order. Being hash-keyed, the
    split is stable under repartitioning, appends, and engine changes
    — a row never migrates between splits when the corpus grows, which
    row_number()-style splits cannot guarantee. Ranges must cover
    exactly [0, 1000) so every row lands in a split.

    Pure projection: one CASE over the bucket expression, no shuffle."""
    if permille is None:
        permille = {"train": 800, "val": 100, "test": 100}
    if sum(permille.values()) != _BUCKETS:
        raise ValueError(f"permille must sum to {_BUCKETS}: {permille}")
    if any(v < 0 for v in permille.values()):
        raise ValueError(f"negative permille: {permille}")
    bucket = _hash_bucket(id_col)
    expr = F.lit(None).cast("string")
    lo = 0
    for name, width in permille.items():
        expr = F.when((bucket >= lo) & (bucket < lo + width), F.lit(name)).otherwise(expr)
        lo += width
    return df.withColumn(split_col, expr)


def mixture_report(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    target: dict[str, float] | None = None,
) -> DataFrame:
    """Training-mix accounting: per group, document and whitespace-token
    counts, the group's share of corpus tokens, and the resampling
    weight ``target_share / token_share`` that would rebalance the mix
    to ``target`` (default: uniform over the groups present). Weights
    > 1 mean the group must be upsampled to hit the target mix.

    Plan shape: one groupBy over (group) — map-side partial sums — then
    a broadcast of the one-row corpus total onto the O(groups) result;
    row data never shuffles twice and nothing is collected."""
    toks = F.when(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    per = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"), F.sum(toks.cast("long")).alias("n_tokens")
    )
    totals = per.agg(
        F.sum("n_tokens").alias("_total_tokens"),
        F.count("*").alias("_n_groups"),
    )
    out = per.crossJoin(F.broadcast(totals)).withColumn(
        "token_share", F.col("n_tokens") / F.greatest(F.col("_total_tokens"), F.lit(1))
    )
    if target is None:
        tgt = F.lit(1.0) / F.col("_n_groups")
    else:
        tgt = F.lit(0.0)
        for name, share in sorted(target.items()):
            tgt = F.when(F.col(group_col) == name, F.lit(float(share))).otherwise(tgt)
    return (
        out.withColumn("target_share", tgt)
        .withColumn(
            "mix_weight",
            F.when(
                F.col("token_share") > 0, F.col("target_share") / F.col("token_share")
            ).otherwise(F.lit(None).cast("double")),
        )
        .drop("_total_tokens", "_n_groups")
    )


def pack_sequences(
    df: DataFrame,
    ctx_tokens: int = 2048,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 3,
) -> DataFrame:
    """Sequence packing for training: lay each group's documents
    end-to-end in deterministic hash-shuffle order and assign every
    document the context-window pack its first token lands in
    (``pack_id`` = start_offset // ctx, ``offset_in_pack`` = start
    offset % ctx) — the "concat then split at ctx boundaries" packing
    LLM loaders use, made reproducible by the sha256 order key.

    Scale shape mirrors token_budget_sample: a flat
    Window.partitionBy(group) cumsum would put an entire group in one
    task. Instead the hash key's first ``prefix_len`` hex chars bucket
    the group without breaking the global key order; pass 1 computes
    per-bucket token sums whose running sum (over the tiny
    groups x 4096 table) gives each bucket's absolute start offset;
    pass 2's row-level window is partitioned by (group, bucket) so no
    task sees more than ~1/4096 of a group. Exactly equal to the flat
    per-row rule (oracle-checked)."""
    from pyspark.sql import Window

    if ctx_tokens <= 0:
        raise ValueError(f"ctx_tokens must be positive: {ctx_tokens}")
    key = _order_key(id_col)
    bucket = F.substring(key, 1, prefix_len)
    toks = F.when(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    rows = (
        df.withColumn("_ps_key", key)
        .withColumn("_ps_bucket", bucket)
        .withColumn("_ps_tokens", toks.cast("long"))
    )

    wb = Window.partitionBy(group_col).orderBy("_ps_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    starts = (
        rows.groupBy(group_col, "_ps_bucket")
        .agg(F.sum("_ps_tokens").alias("_ps_sum"))
        .withColumn("_ps_start", F.sum("_ps_sum").over(wb) - F.col("_ps_sum"))
        .select(group_col, "_ps_bucket", "_ps_start")
    )

    wr = Window.partitionBy(group_col, "_ps_bucket").orderBy(
        "_ps_key", id_col
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    offset = F.col("_ps_start") + F.sum("_ps_tokens").over(wr) - F.col("_ps_tokens")
    return (
        rows.join(F.broadcast(starts), [group_col, "_ps_bucket"])
        .withColumn("pack_id", F.floor(offset / ctx_tokens).cast("long"))
        .withColumn("offset_in_pack", (offset % ctx_tokens).cast("long"))
        .withColumn("n_tokens", F.col("_ps_tokens"))
        .drop("_ps_key", "_ps_bucket", "_ps_tokens", "_ps_start")
    )


def _order_key(id_col: str) -> F.Column:
    """Engine-portable deterministic shuffle order: the full sha256 hex
    of str(id) — lexicographic order any engine reproduces."""
    return F.sha2(F.col(id_col).cast("string"), 256)


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 3,
) -> DataFrame:
    """Per-group TOKEN-budget sampling — the training-mix step that
    caps each group (language, source, ...) at a token count rather
    than a row fraction: keep, per group, the prefix of a
    deterministic hash shuffle whose INCLUSIVE cumulative whitespace
    token count fits ``budget_tokens``; a document that would
    overflow the budget is dropped along with everything after it
    (prefix semantics — reproducible and nested: a larger budget's
    sample is a superset).

    Scale shape (the part a naive window gets wrong): a
    Window.partitionBy(group) cumsum puts EVERY row of a group in one
    task — a hot language is petabytes. Instead the hash key's first
    ``prefix_len`` hex chars (4096 buckets at 3) bucket each group
    WITHOUT breaking the global hash order (bucket = key prefix, so
    bucket-major order IS key order). Pass 1 aggregates per-(group,
    bucket) token sums — a tiny table — whose running sum finds each
    group's boundary bucket; full buckets resolve with a broadcast
    join, ONLY the boundary bucket's rows (~1/4096 of the group) pay
    a row-level window. Exactly equal to the flat per-row cumsum rule
    (oracle-checked), two narrow shuffles, no content movement."""
    from pyspark.sql import Window

    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0: {budget_tokens}")
    key = _order_key(id_col)
    bucket = F.substring(key, 1, prefix_len)
    toks = F.when(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    rows = df.withColumn("_tbs_key", key).withColumn(
        "_tbs_bucket", bucket
    ).withColumn("_tbs_tokens", toks.cast("long"))

    # pass 1: per-(group, bucket) token sums -> running sum over the
    # TINY bucket table (groups x 4096 rows; the window here is fine)
    wb = Window.partitionBy(group_col).orderBy("_tbs_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    buckets = (
        rows.groupBy(group_col, "_tbs_bucket")
        .agg(F.sum("_tbs_tokens").alias("_tbs_sum"))
        .withColumn("_tbs_cum", F.sum("_tbs_sum").over(wb))
        .withColumn("_tbs_before", F.col("_tbs_cum") - F.col("_tbs_sum"))
    )
    full = buckets.filter(F.col("_tbs_cum") <= budget_tokens).select(
        group_col, "_tbs_bucket"
    )
    boundary = buckets.filter(
        (F.col("_tbs_cum") > budget_tokens) & (F.col("_tbs_before") <= budget_tokens)
    ).select(group_col, "_tbs_bucket", "_tbs_before")

    kept_full = rows.join(F.broadcast(full), [group_col, "_tbs_bucket"], "left_semi")

    # pass 2: row-level prefix inside each group's single boundary
    # bucket (1/4096 of the group's rows shuffle into this window)
    wr = Window.partitionBy(group_col, "_tbs_bucket").orderBy(
        "_tbs_key", id_col
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    kept_boundary = (
        rows.join(F.broadcast(boundary), [group_col, "_tbs_bucket"])
        .withColumn("_tbs_rowcum", F.sum("_tbs_tokens").over(wr))
        .filter(F.col("_tbs_before") + F.col("_tbs_rowcum") <= budget_tokens)
        .drop("_tbs_before", "_tbs_rowcum")
    )
    drop_cols = ("_tbs_key", "_tbs_bucket", "_tbs_tokens")
    return kept_full.unionByName(kept_boundary).drop(*drop_cols)


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 128,
    stride: int = 96,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-size overlapping character chunking — the context-window
    prep step that turns documents into training/indexing units (the
    complement of ``pack_sequences``, which concatenates SHORT docs;
    this splits LONG ones). Chunk ``i`` covers characters
    ``[i*stride, i*stride + chunk_size)``; chunks start while
    ``i*stride < len`` so every character is covered and consecutive
    chunks overlap by ``chunk_size - stride``. Empty/NULL documents
    emit no chunks.

    Pure per-row projection: ``sequence`` + ``posexplode`` +
    ``substring`` inside codegen — no shuffle, no UDF, and output
    order inherits scan order (callers sort if they need it). The
    empty-doc filter runs BEFORE building the index sequence because
    Spark's ``sequence(0, -1)`` counts DOWN (a 2-element descending
    array), which would fabricate chunks for empty docs.

    Output: (id, chunk_idx, chunk_start 0-based, chunk_len,
    chunk_md5) — offsets + fingerprints, not the chunk text, so the
    result stays narrow at 100 TB; callers re-slice lazily from the
    source when materializing a chunk.
    """
    if chunk_size <= 0 or stride <= 0:
        raise ValueError(
            f"chunk_size and stride must be positive: {chunk_size}, {stride}"
        )
    if stride > chunk_size:
        raise ValueError(
            f"stride > chunk_size leaves coverage gaps: {stride} > {chunk_size}"
        )
    n = F.length(F.coalesce(F.col(text_col), F.lit("")))
    n_chunks = (F.floor((n - 1) / stride) + 1).cast("int")
    chunk = F.substring(
        F.col(text_col), F.col("chunk_idx") * stride + 1, chunk_size
    )
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_idx", "_v"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            (F.col("chunk_idx") * stride).cast("long").alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
    )


def temperature_mixture(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    temperature: float = 0.7,
    budget_tokens: int | None = None,
) -> DataFrame:
    """Temperature-weighted source mixing — the standard LLM
    data-mixing rule (multilingual/multi-source sampling a la the
    GPT-3 / mT5 mixes): sampling share p_i ∝ n_i^T for temperature
    T in (0, 1], which upweights small sources relative to their raw
    token share (T = 1 reproduces raw shares; T -> 0 approaches
    uniform). Per group: raw token counts, raw share, temperature
    share, the implied up/down-sampling factor, and — when
    ``budget_tokens`` is given — the target token draw and the
    number of EPOCHS over the source it implies (epochs > ~4 is the
    overfitting red flag for small upweighted sources).

    Plan shape: identical budget to ``mixture_report`` — one
    map-side-combined groupBy to O(groups) rows, one broadcast
    scalar total; pow/division are fixed-arity float expressions the
    oracle replays exactly."""
    if not (0.0 < temperature <= 1.0):
        raise ValueError(f"temperature must be in (0, 1], got {temperature}")
    toks = F.when(
        F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    per = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"), F.sum(toks.cast("long")).alias("n_tokens")
    )
    powed = per.withColumn(
        "_w", F.pow(F.col("n_tokens").cast("double"), F.lit(temperature))
    )
    totals = powed.agg(
        F.sum("n_tokens").alias("_total_tokens"), F.sum("_w").alias("_total_w")
    )
    # a zero-token source (all docs empty) would hit 0/0 -> NULL under
    # Spark's divide semantics; define it as 0 everywhere instead so
    # the row is usable downstream (nothing to sample from that group)
    zero = F.col("n_tokens") == 0
    out = (
        powed.crossJoin(F.broadcast(totals))
        .withColumn(
            "raw_share",
            F.when(F.col("_total_tokens") == 0, F.lit(0.0)).otherwise(
                F.col("n_tokens").cast("double")
                / F.col("_total_tokens").cast("double")
            ),
        )
        .withColumn(
            "temp_share",
            F.when(F.col("_total_w") == 0, F.lit(0.0)).otherwise(
                F.col("_w") / F.col("_total_w")
            ),
        )
        .withColumn(
            "sample_factor",
            F.when(zero, F.lit(0.0)).otherwise(
                F.col("temp_share") / F.col("raw_share")
            ),
        )
    )
    if budget_tokens is not None:
        out = out.withColumn(
            "target_tokens", F.col("temp_share") * F.lit(float(budget_tokens))
        ).withColumn(
            "epochs",
            F.when(zero, F.lit(0.0)).otherwise(
                F.col("target_tokens") / F.col("n_tokens").cast("double")
            ),
        )
    return out.drop("_w", "_total_tokens", "_total_w")


def apply_mixture(
    df: DataFrame,
    factors: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY a sampling plan (``temperature_mixture``'s
    ``sample_factor`` column, or any (group, sample_factor) table):
    each document is emitted ``floor(f)`` times plus one more when
    its hash bucket falls under the fractional part — so a factor of
    0.25 keeps a deterministic quarter of the group once, and 2.5
    emits every doc twice plus a deterministic half a third time.
    Expected copies per doc = its group's factor, exactly realized in
    distribution and REPRODUCIBLE: selection is keyed on
    sha256(id) like every sampler here, so the materialized mix is a
    pure function of the data — stable under repartitioning, appends
    and engines. Emitted rows carry ``copy_idx`` (1-based) so
    downstream shuffles can decorrelate repeats.

    Plan: one broadcast join of the O(groups) factor table, then a
    pure projection (hash bucket + sequence explode) — no shuffle of
    content, and dropped docs never leave the scan."""
    f = F.col("sample_factor").cast("double")
    base = F.floor(f).cast("long")
    frac_threshold = F.floor((f - F.floor(f)) * F.lit(_BUCKETS)).cast("long")
    n_copies = base + (
        (_hash_bucket(id_col) < frac_threshold).cast("long")
    )
    return (
        df.join(
            F.broadcast(factors.select(group_col, "sample_factor")), group_col
        )
        .withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") >= 1)
        .withColumn("copy_idx", F.explode(F.sequence(F.lit(1), F.col("_n_copies"))))
        .drop("_n_copies", "sample_factor")
    )


def priority_sample(
    df: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis-Spirakis A-Res scheme with the randomness replaced by
    the same sha256 hash-uniform the rest of the sampling family uses.
    Each row draws u in (0,1] from its id hash and gets an exponential
    priority -ln(u)/w; the k smallest priorities are exactly a
    weighted sample without replacement (heavier rows draw smaller
    priorities). Deterministic => reproducible releases, cross-engine
    replayable, and stable under repartitioning — none of which
    df.sample(weights) gives.

    Rows with w <= 0 or NULL are excluded (zero weight = never
    sampled), matching the E-S definition.

    Scale: pure projection + TakeOrderedAndProject (per-partition
    top-k, then a k-row merge on the driver) — no shuffle of the
    corpus, no global sort. The k-row rank window runs on the already-
    limited result (bounded single partition by construction).
    """
    w = F.col(weight_col).cast("double")
    picked = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            _es_priority(id_col, weight_col).alias("__p"),
        )
        .orderBy("__p", id_col)
        .limit(k)
    )
    from pyspark.sql import Window

    rank_w = Window.orderBy("__p", id_col)
    return picked.select(
        F.row_number().over(rank_w).alias("rank"),
        id_col,
        "weight",
        F.round("__p", 8).alias("priority"),
    )


def cross_split_leakage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    permille: dict[str, int] | None = None,
) -> DataFrame:
    """Train/val/test leakage audit: exact-content duplicates that
    hash_split assigned to DIFFERENT splits. hash_split keys on the
    id, so two ids with identical text land wherever their id hashes
    say — byte-identical eval examples inside the training split are
    exactly the contamination an evaluation must not have. Returns
    one row per unordered split pair with the number of leaking
    pairs and distinct leaked contents.

    Plan: split assignment is a pure projection (hash_split), the
    content key is sha256 (codegen), and the leak detection is one
    self-join on the content hash restricted to split_a < split_b —
    shuffle carries (hash, split) only, never text. Run it before
    publishing any split manifest; the remedy is dedup-then-split,
    never resplit (id-keyed splits must stay stable).
    """
    s = hash_split(df.select(id_col, text_col), permille=permille, id_col=id_col)
    keyed = s.select(
        F.sha2(F.coalesce(F.col(text_col), F.lit("")).cast("binary"), 256).alias(
            "__h"
        ),
        F.col("split"),
    )
    a = keyed.select(F.col("__h"), F.col("split").alias("split_a"))
    b = keyed.select(F.col("__h"), F.col("split").alias("split_b"))
    # splits partition the id space, so split_a < split_b alone keys
    # each unordered cross-split pair exactly once (same-split dups
    # are dedup's business, not leakage)
    pairs = a.join(b, "__h").filter(F.col("split_a") < F.col("split_b"))
    return (
        pairs.groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_leaked_pairs"),
            F.countDistinct("__h").alias("n_leaked_contents"),
        )
        .orderBy("split_a", "split_b")
    )


def stratified_priority_sample(
    df: DataFrame,
    k_per_group: int,
    group_col: str = "lang",
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k-per-stratum weighted sampling without replacement —
    the "take the best 1000 docs per language, weighted by length"
    composition step. Same Efraimidis-Spirakis hash-derived
    exponential priorities as priority_sample, ranked INSIDE each
    group, so quotas are exact (groups smaller than k return whole).

    Deterministic and engine-replayable like the rest of the sampling
    family. One shuffle on the group for the rank window; rows with
    w <= 0 or NULL are excluded before ranking.
    """
    from pyspark.sql import Window

    if k_per_group < 1:
        raise ValueError(f"k_per_group must be >= 1: {k_per_group}")
    for c in (group_col, id_col):
        if c in ("rank", "weight", "priority"):
            raise ValueError(f"column collides with an output column: {c!r}")
    w = F.col(weight_col).cast("double")
    ranked = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(group_col),
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            _es_priority(id_col, weight_col).alias("__p"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(group_col).orderBy("__p", id_col)
            ),
        )
        .filter(F.col("rank") <= k_per_group)
    )
    return ranked.select(
        group_col,
        F.col("rank").cast("long").alias("rank"),
        id_col,
        "weight",
        F.round("__p", 8).alias("priority"),
    ).orderBy(group_col, "rank")
