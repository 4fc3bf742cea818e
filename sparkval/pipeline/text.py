"""Text-analysis operators: token counts, quality scores, language ID,
document fingerprints. Pure Column expressions (JVM, codegen) so they
run at scan speed — these are per-row projections with no shuffle at
all; Catalyst pushes the column prune down to the parquet scan.
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

# Distinctive high-frequency markers per language (public-knowledge
# stopword heuristics). Kept tiny on purpose: language ID here is a
# scan-speed heuristic, not a model.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["que", "los", "las", "una", "por"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["les", "des", "une", "est", "dans"],
    "zh": ["的", "是", "了", "在", "我"],
}

_WORD_SPLIT = r"\s+"


def with_token_count(df: DataFrame, col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (~chars/4 bounded below by word count), as columns."""
    words = F.size(F.split(F.trim(F.col(col)), _WORD_SPLIT))
    words = F.when(F.length(F.trim(F.col(col))) == 0, F.lit(0)).otherwise(words)
    bpe_est = F.greatest(words, F.ceil(F.length(col) / F.lit(4)).cast("int"))
    return df.withColumn("n_tokens", words).withColumn("n_tokens_bpe_est", bpe_est)


def with_quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Heuristic quality in [0,1]: length band + alpha ratio + mean
    word length band. Deterministic, expression-only."""
    n_chars = F.length(col)
    words = F.size(F.split(F.trim(F.col(col)), _WORD_SPLIT))
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-zÀ-ɏ一-鿿]", ""))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1))
    mean_wlen = n_chars / F.greatest(words, F.lit(1))
    len_ok = (n_chars >= 20) & (n_chars <= 100000)
    wlen_ok = (mean_wlen >= 2.0) & (mean_wlen <= 15.0)
    score = (
        len_ok.cast("double") * 0.4
        + wlen_ok.cast("double") * 0.2
        + F.least(alpha_ratio * F.lit(2.0), F.lit(1.0)) * 0.4
    )
    return df.withColumn("quality_score", F.round(score, 6))


def with_lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Marker-hit language ID: argmax over per-language marker counts.

    Implemented as a greatest-of-structs trick so the whole thing is
    one codegen'd expression (no UDF): tag each language's hit count,
    take the struct-max (count, then language for tie-break stability).
    """
    # materialize the token array once so codegen doesn't inline the
    # split into every per-language count expression
    tokenized = df.withColumn("_toks", F.split(F.lower(F.col(col)), _WORD_SPLIT))
    scored = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        if lang == "zh":
            # zh markers are single chars: ONE translate() strips them
            # all, the length delta is the total hit count
            cnt = F.length(col) - F.length(F.translate(F.col(col), "".join(markers), ""))
        else:
            arr = F.array(*[F.lit(m) for m in markers])
            cnt = F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(arr, t)))
        scored.append(F.struct(cnt.cast("long").alias("hits"), F.lit(lang).alias("lang")))
    # the struct-max is ALSO materialized once: referencing greatest()
    # directly from both arms of the WHEN inlined the whole 5-language
    # scoring tree twice per row (plan showed 8 filter() traversals —
    # guide §7.2 duplicated-subtree check; halves the per-row cost)
    with_best = tokenized.withColumn("_best", F.greatest(*scored))
    pred = F.when(
        F.col("_best")["hits"] > 0, F.col("_best")["lang"]
    ).otherwise(F.lit("unknown"))
    return with_best.withColumn("lang_pred", pred).drop("_toks", "_best")


def with_fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Content fingerprints: exact (md5) and a shift-tolerant one over
    the whitespace-normalized text (rolling-hash analog: collapse
    whitespace, lowercase, then hash — robust to reflow)."""
    normalized = F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")
    return df.withColumn("fp_exact", F.md5(F.col(col).cast("binary"))).withColumn(
        "fp_normalized", F.md5(F.trim(normalized).cast("binary"))
    )


# Gopher-rule stopword list (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1.2): a doc
# must contain at least 2 of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _word_array(col: str) -> F.Column:
    """Whitespace word array; empty/null text yields an EMPTY array
    (a bare split of '' returns [''], which would count as one word)."""
    return F.when(
        F.col(col).isNull() | (F.trim(F.col(col)) == ""),
        F.array().cast("array<string>"),
    ).otherwise(F.split(F.trim(F.col(col)), _WORD_SPLIT))


def with_gopher_quality(
    df: DataFrame,
    col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.10,
    min_alpha_word_frac: float = 0.80,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher document-quality rule set (Rae et al. 2021 §A1.1.2),
    the standard pre-filter of large-scale web training mixes: word
    count band, mean-word-length band, symbol-to-word ratio (# and
    ellipsis), fraction of words with at least one alphabetic
    character, and a minimum distinct-stopword requirement.
    ``gopher_keep`` ANDs the five rules.

    Every rule is a pure Column expression over one tokenization
    (higher-order filters on the word array), so the whole filter runs
    at scan speed inside codegen — no shuffle, no UDF, and Catalyst
    prunes the scan to the text column. Thresholds are the published
    defaults; callers tune per corpus."""
    words = _word_array(col)
    n_words = F.size(words)
    n_f = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wlen = (
        F.aggregate(words, F.lit(0).cast("long"), lambda a, x: a + F.length(x)) / n_f
    )
    symbol_words = F.size(
        F.filter(words, lambda x: x.contains("#") | x.contains("...") | x.contains("…"))
    )
    alpha_words = F.size(F.filter(words, lambda x: x.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.array_intersect(F.transform(words, lambda x: F.lower(x)), stop_arr)
    )
    rule_words = (n_words >= min_words) & (n_words <= max_words)
    rule_wlen = (mean_wlen >= min_mean_word_len) & (mean_wlen <= max_mean_word_len)
    rule_symbol = (symbol_words / n_f) <= max_symbol_word_ratio
    rule_alpha = (alpha_words / n_f) >= min_alpha_word_frac
    rule_stop = stop_hits >= min_stopword_hits
    return (
        df.withColumn("n_words", n_words.cast("long"))
        .withColumn("mean_word_len", mean_wlen.cast("double"))
        .withColumn("symbol_word_ratio", (symbol_words / n_f).cast("double"))
        .withColumn("alpha_word_frac", (alpha_words / n_f).cast("double"))
        .withColumn("stopword_hits", stop_hits.cast("long"))
        .withColumn("rule_words", rule_words)
        .withColumn("rule_word_len", rule_wlen)
        .withColumn("rule_symbols", rule_symbol)
        .withColumn("rule_alpha", rule_alpha)
        .withColumn("rule_stopwords", rule_stop)
        .withColumn(
            "gopher_keep",
            rule_words & rule_wlen & rule_symbol & rule_alpha & rule_stop,
        )
    )


#: PII patterns kept to the regex subset Java and RE2 evaluate
#: identically (no backrefs, no lookaround) so oracles can replay them.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}


def with_pii_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document PII occurrence counts (``n_email``/``n_ipv4``/
    ``n_phone``) + ``has_pii`` — the scrubbing pipeline's detection
    pass. ``regexp_extract_all`` is a codegen'd JVM expression; no UDF,
    no shuffle."""
    out = df
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(F.col(col), F.lit(pat), F.lit(0))).cast("long"),
        )
    flags = [F.col(f"n_{kind}") > 0 for kind in PII_PATTERNS]
    has = flags[0]
    for fl in flags[1:]:
        has = has | fl
    return out.withColumn("has_pii", has)


def redact_pii(
    df: DataFrame, col: str = "text", out_col: str = "text_redacted",
    token: str = "[PII]",
) -> DataFrame:
    """Replace every PII match with ``token`` — chained
    ``regexp_replace`` in the fixed PII_PATTERNS order (email, ipv4,
    phone) so redaction is deterministic and engine-replayable."""
    redacted = F.col(col)
    for pat in PII_PATTERNS.values():
        redacted = F.regexp_replace(redacted, pat, token)
    return df.withColumn(out_col, redacted)


def vocab_topk(
    df: DataFrame, k: int = 50, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level vocabulary top-k: the ``k`` most frequent
    lowercased whitespace terms with total occurrences and document
    frequency — the tokenizer-training / stopword-discovery primitive.

    Plan shape: explode -> two-level aggregate. The first groupBy
    (term, doc) benefits from map-side partial aggregation (each task
    emits at most its distinct (term, doc) pairs, not one row per
    occurrence), the second reduces to vocabulary size, and the top-k
    resolves as TakeOrderedAndProject — no global sort materializes.
    Ties break on the term string so the result is total-ordered."""
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    terms = df.select(
        F.col(id_col), F.explode(F.transform(_word_array(col), F.lower)).alias("term")
    )
    per_doc = terms.groupBy("term", id_col).agg(F.count("*").alias("n"))
    agg = per_doc.groupBy("term").agg(
        F.sum("n").alias("n_occurrences"), F.count("*").alias("n_docs")
    )
    return agg.orderBy(F.desc("n_occurrences"), F.asc("term")).limit(k)


def with_repetition_stats(df: DataFrame, col: str = "text",
                          dup_line_frac_max: float = 0.30,
                          dup_char_frac_max: float = 0.20) -> DataFrame:
    """Intra-document repetition stats + flag — the Gopher-style
    duplicate-line quality rule (docs dominated by repeated lines are
    boilerplate/spam and poison training mixes): per doc, the fraction
    of non-blank lines that occur more than once and the fraction of
    characters living in such lines; ``is_repetitive`` ORs the two
    thresholds (defaults are the published 0.30 / 0.20 style cutoffs).

    Pure Column expressions, no shuffle. The duplicate test is the
    nested higher-order filter (for each line, count equal lines) —
    O(lines^2) per document inside codegen, fine for real documents
    (hundreds of lines); a corpus of pathological million-line docs
    would use an explode+groupBy variant instead."""
    lines = F.filter(
        F.split(F.coalesce(F.col(col), F.lit("")), "\n"),
        lambda x: F.trim(x) != "",
    )
    n_lines = F.size(lines)
    dup_lines = F.filter(
        lines,
        lambda x: F.size(F.filter(lines, lambda y: y == x)) >= 2,
    )
    n_dup = F.size(dup_lines)
    chars_total = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    chars_dup = F.aggregate(
        dup_lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    dup_line_frac = F.when(n_lines > 0, n_dup / n_lines).otherwise(F.lit(0.0))
    dup_char_frac = F.when(chars_total > 0, chars_dup / chars_total).otherwise(
        F.lit(0.0)
    )
    return (
        df.withColumn("n_lines", n_lines.cast("long"))
        .withColumn("dup_line_frac", dup_line_frac.cast("double"))
        .withColumn("dup_char_frac", dup_char_frac.cast("double"))
        .withColumn(
            "is_repetitive",
            (dup_line_frac > dup_line_frac_max)
            | (dup_char_frac > dup_char_frac_max),
        )
    )


def _ws_tokens(col: str) -> F.Column:
    """Lowercased whitespace tokenization shared by the LM / KL /
    TF-IDF family (``unigram_lm``, ``with_unigram_nll``,
    ``source_signature_terms``, ``stats.unigram_divergence``) and
    replayed verbatim by their SQL oracles: trim FIRST (Pattern.split
    emits empty boundary tokens otherwise), lowercase, split on \\s+.
    One definition so the four ops — documented as complements of
    each other — cannot drift apart on tokenization."""
    return F.split(F.trim(F.lower(F.coalesce(F.col(col), F.lit("")))), r"\s+")


def unigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram language model as a (term, n) counts table over the
    lowercased whitespace tokenization — the reference-corpus half of
    the CCNet-style perplexity filter (``with_unigram_nll``). One
    explode + one map-side-combined groupBy; the result is
    vocabulary-sized and is the persistable artifact (build once from
    the trusted corpus, score every candidate snapshot against it)."""
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.explode(_ws_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def with_unigram_nll(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood (nats/token) under a
    ``unigram_lm`` counts table — the perplexity-proxy quality signal
    of CCNet-style pipelines (Wenzek et al. 2020): docs scoring far
    from the reference corpus are boilerplate, spam, or off-language.
    Add-one smoothing handles OOV: p(term) = (n + 1) / (total + |V| +
    1) with n = 0 for unseen terms, so every token has finite NLL and
    the OOV fraction is reported alongside.

    Plan shape: docs explode to (id, term); the LM joins on the term
    key (vocabulary-sized — Spark broadcasts it under the adaptive
    threshold, which covers even web-scale unigram vocabularies at a
    few hundred MB; the two LM scalars ride a 1-row broadcast); the
    per-doc reduce shuffles (id, nll) pairs, O(tokens) x ~16 B. At
    100 TB the explode+reduce is the honest cost of token-level
    scoring — content itself never shuffles, only terms do.

    Output ADDS ``n_tokens``, ``oov_frac``, ``mean_nll`` (1e-6
    rounded) to the input columns — the ``with_*`` contract every
    sibling here follows, so callers can filter on the score and keep
    their rows. Empty/NULL docs score NULL on all three (no tokens).
    The per-doc aggregate joins back on the id key, reusing the
    reduce's own hash partitioning.
    """
    # coalesce: an EMPTY lm (cold-start scoring) must degrade to the
    # uniform p = 1/(0 + 0 + 1) = 1 smoothing floor, not a NULL divide
    scalars = lm.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("double").alias("_lm_total"),
        F.count(F.lit(1)).cast("double").alias("_lm_vsize"),
    )
    terms = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), F.explode(_ws_tokens(text_col)).alias("term")
    )
    joined = terms.join(lm, "term", "left").crossJoin(F.broadcast(scalars))
    p = (F.coalesce(F.col("n"), F.lit(0)) + 1) / (
        F.col("_lm_total") + F.col("_lm_vsize") + 1
    )
    scores = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.col("n").isNull().cast("double")), 6).alias("oov_frac"),
        F.round(F.avg(-F.log(p)), 6).alias("mean_nll"),
    )
    return df.join(scores, id_col, "left")


def source_signature_terms(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-group TF-IDF signature terms: the ``k`` terms most
    characteristic of each group (tf = group term frequency, idf =
    ln(n_groups / group-document-frequency)) — the domain-signature
    report a mixture curator reads to see WHAT a source actually
    contains (the qualitative complement of ``unigram_divergence``'s
    single KL number).

    Plan shape: one explode -> (group, term) counts with map-side
    partials; document frequency and group totals derive from that
    same table; the top-k window partitions the VOCABULARY-SIZED
    (group, term) table by group — never corpus rows. Ties break on
    the term string so the cut is total-ordered."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    terms = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(group_col).alias("group"),
        F.explode(_ws_tokens(text_col)).alias("term"),
    )
    counts = terms.groupBy("group", "term").agg(F.count(F.lit(1)).alias("n"))
    group_totals = counts.groupBy("group").agg(F.sum("n").alias("_gtot"))
    gdf = counts.groupBy("term").agg(F.count(F.lit(1)).alias("_gdf"))
    n_groups = counts.select("group").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_ngroups")
    )
    scored = (
        counts.join(F.broadcast(group_totals), "group")
        .join(gdf, "term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("n") / F.col("_gtot"))
                * F.log(F.col("_ngroups") / F.col("_gdf")),
                6,
            ),
        )
    )
    w = Window.partitionBy("group").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("group", "rank", "term", F.col("n").alias("n_occurrences"), "tfidf")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance scores for a fixed query over the corpus — the
    retrieval primitive a curation pipeline uses for quality-targeted
    sampling and retrieval-based contamination audits (find the
    training docs most similar to an eval question). Standard
    Okapi/Lucene form: idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    tf saturation k1, length normalization b against the mean doc
    length. Returns (id, matched_terms, score) for documents matching
    at least one query term.

    Scale shape: ZERO row-wise shuffles. Per-term tf is a
    higher-order filter over the per-doc token array (pure JVM, dies
    in the scan projection); pass 1 folds (N, avgdl, df per term)
    into ONE scalar row — the persistable "index stats" artifact —
    which broadcasts into the scoring pass. Two corpus scans total,
    both map-side; the score is a fixed-arity expression tree, so
    engines replay it bit-for-bit (no variable-order float
    summation)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # the tokenizer lowercases every document token, so a cased query
    # term would silently score tf = 0 everywhere — normalize here
    query_terms = [t.lower() for t in query_terms]
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct (after lowercasing)")

    base = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col), _ws_tokens(text_col).alias("_toks")
    )
    def _eq(term: str):
        # NB: a two-parameter lambda would make Spark bind the second
        # arg to the array INDEX — close over the term instead
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter("_toks", _eq(t))).alias(f"_tf{i}")
        for i, t in enumerate(query_terms)
    ]
    scored = base.select(
        id_col, F.size("_toks").alias("_dl"), *tf_cols
    )
    stats = scored.agg(
        F.count(F.lit(1)).alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    parts = []
    for i in range(len(query_terms)):
        tf = F.col(f"_tf{i}").cast("double")
        dfreq = F.col(f"_df{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - dfreq + F.lit(0.5))
            / (dfreq + F.lit(0.5))
        )
        norm = F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl")
        )
        parts.append(idf * tf * F.lit(k1 + 1.0) / (tf + norm))
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    matched = sum(
        (F.col(f"_tf{i}") > 0).cast("long") for i in range(len(query_terms))
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .withColumn("matched_terms", matched)
        .filter(F.col("matched_terms") >= 1)
        .select(id_col, "matched_terms", score.alias("score"))
    )


def pmi_bigrams(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    broadcast_unigrams: bool = True,
) -> DataFrame:
    """Adjacent-bigram collocation mining by pointwise mutual
    information — the tokenizer/vocab-curation pass that surfaces
    multi-word expressions ("new york", "machine learning") worth
    merging before BPE training, and boilerplate n-grams worth
    inspecting. For bigram (x, y):

        pmi = ln( (c_xy / N_b) / ((c_x / N_u) * (c_y / N_u)) )

    with c_xy the adjacent-pair count, c_x/c_y unigram counts, N_b
    total bigrams, N_u total tokens. Returns (x, y, n_xy, pmi) for
    pairs with n_xy >= min_count.

    Scale shape: bigrams pair adjacent tokens INSIDE the token array
    (higher-order transform — pure JVM), so the only shuffles are
    map-side-combined counts: O(distinct bigrams) + O(vocabulary)
    rows, never O(tokens). The unigram table is vocabulary-sized and
    broadcasts into the join (``broadcast_unigrams=False`` falls
    back to a shuffled join for pathological vocabularies); scalar
    totals ride along as one broadcast row. The pmi expression is a
    fixed-arity float tree — engine-replayable."""
    toks = _ws_tokens(text_col)
    base = df.filter(F.trim(F.col(text_col)) != "").select(
        toks.alias("_toks")
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.struct(
            F.element_at("_toks", i).alias("x"),
            F.element_at("_toks", i + 1).alias("y"),
        ),
    )
    bigrams = (
        base.filter(F.size("_toks") >= 2)
        .select(F.explode(pairs).alias("_p"))
        .select("_p.x", "_p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
    )
    unigrams = (
        base.select(F.explode("_toks").alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    if broadcast_unigrams:
        unigrams = F.broadcast(unigrams)
    totals = F.broadcast(unigrams.agg(F.sum("_n").alias("_nu")))
    nb = F.broadcast(bigrams.agg(F.sum("n_xy").alias("_nb")))
    ux = unigrams.select(F.col("_t").alias("x"), F.col("_n").alias("_cx"))
    uy = unigrams.select(F.col("_t").alias("y"), F.col("_n").alias("_cy"))
    pmi = F.log(
        (F.col("n_xy").cast("double") / F.col("_nb").cast("double"))
        / (
            (F.col("_cx").cast("double") / F.col("_nu").cast("double"))
            * (F.col("_cy").cast("double") / F.col("_nu").cast("double"))
        )
    )
    return (
        bigrams.filter(F.col("n_xy") >= min_count)
        .join(ux, "x")
        .join(uy, "y")
        .crossJoin(totals)
        .crossJoin(nb)
        .select("x", "y", "n_xy", pmi.alias("pmi"))
    )


def with_encoding_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Mojibake / encoding-damage flags — the pre-filter that catches
    double-decoded or truncated crawl content before it poisons a
    training mix: count of U+FFFD replacement characters (the decoder
    already gave up), count of C0/C1 control characters other than
    tab/newline/carriage-return, the classic UTF-8-read-as-Latin-1
    artifact pairs ('Ã' followed by a continuation-range char,
    e.g. the mangled e-acute), and a clean flag when all three are
    zero. Pure Column expressions (length deltas from regexp_replace)
    — scan speed, no shuffle, no UDF, and every pattern is RE2/Java-
    identical so oracles replay it."""
    text = F.coalesce(F.col(col), F.lit(""))
    n_replacement = F.length(text) - F.length(
        F.regexp_replace(text, "�", "")
    )
    ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]"
    n_control = F.length(text) - F.length(F.regexp_replace(text, ctrl, ""))
    moji = "\u00c3[\\u0080-\\u00BF]"
    n_mojibake = (
        F.length(text) - F.length(F.regexp_replace(text, moji, ""))
    ) / F.lit(2)
    return (
        df.withColumn("n_replacement_chars", n_replacement.cast("long"))
        .withColumn("n_control_chars", n_control.cast("long"))
        .withColumn("n_mojibake_pairs", n_mojibake.cast("long"))
        .withColumn(
            "encoding_clean",
            (n_replacement == 0) & (n_control == 0) & (n_mojibake == F.lit(0)),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
    broadcast_hot: bool = True,
) -> DataFrame:
    """Line-frequency boilerplate removal — the CCNet/RefinedWeb-style
    cleanup that strips nav menus, cookie banners and footers: a
    trimmed non-empty LINE appearing in at least
    ``max(min_docs, ceil(min_doc_frac * N))`` distinct documents is
    boilerplate, and every occurrence is removed. Returns one row per
    input doc: (id, n_lines, n_boilerplate_removed, text_clean) with
    surviving lines re-joined by newline in original order;
    whitespace-only lines are dropped (normalization, documented).
    The complement of span-level dedup: spans need a verbatim n-gram
    run, this catches SHORT templated lines repeated across docs.

    Scale shape: per-doc distinct lines feed one map-side-combined
    groupBy(line) doc-count; the hot-line set is tiny by construction
    (a line must recur across >= min_doc_frac of the corpus) and
    broadcasts into a LEFT ANTI on the exploded line stream
    (``broadcast_hot=False`` for pathological cases). The one real
    shuffle is the per-doc regroup of surviving (pos, line) pairs —
    O(lines), narrower than the content it rebuilds."""
    lines_raw = F.transform(
        F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
        lambda x: F.trim(x),
    )
    lines = F.filter(lines_raw, lambda x: x != "")
    base = df.select(F.col(id_col), lines.alias("_lines"))
    exploded = base.select(
        id_col, F.posexplode("_lines").alias("pos", "line")
    )
    n_docs = base.filter(F.size("_lines") >= 1).agg(
        F.count(F.lit(1)).alias("_nd")
    )
    hot = (
        base.select(F.col(id_col), F.explode(F.array_distinct("_lines")).alias("line"))
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("_docs")
            >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.lit(float(min_doc_frac)) * F.col("_nd")).cast("long"),
            )
        )
        .select("line")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = exploded.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
    return (
        base.select(id_col, F.size("_lines").cast("long").alias("n_lines"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_boilerplate_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def with_normalized_text(df: DataFrame, col: str = "text") -> DataFrame:
    """Canonical text normalization for dedup/fingerprint pipelines:
    Unicode NFC, control characters ([\\x00-\\x1f\\x7f], including
    newlines/tabs) to spaces, space runs collapsed, ends trimmed.
    Canonicalizing BEFORE hashing/shingling is what makes exact-dup
    and minhash keys stable across crawls that differ only in
    composition form or whitespace.

    NFC runs in an Arrow UDF over each batch's string array (the only
    step Spark has no built-in for; pyarrow 16.1's ``utf8_normalize``
    returns decomposed text for every form, so it is not used); the
    regex steps stay JVM-side expressions on top of it. Map-only projection: no
    shuffle, scales linearly with partitions.

    Adds ``<col>_norm``, ``n_chars_norm`` and ``was_changed``.
    """
    @F.arrow_udf("string")
    def _nfc(s: pa.Array) -> pa.Array:
        return pa.array(
            [None if v is None else unicodedata.normalize("NFC", v) for v in s.to_pylist()],
            pa.string(),
        )

    norm = F.regexp_replace(_nfc(F.col(col)), "[\\x00-\\x1f\\x7f]", " ")
    norm = F.trim(F.regexp_replace(norm, " {2,}", " "))
    out = df.withColumn(f"{col}_norm", norm)
    # long, not F.length's int32: SQL oracles (and the documents
    # table's n_chars) are BIGINT, and the driver's value-hash is typed
    return out.withColumn(
        "n_chars_norm", F.length(f"{col}_norm").cast("long")
    ).withColumn("was_changed", F.col(f"{col}_norm") != F.col(col))
