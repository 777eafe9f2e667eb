"""Text-analysis operators for training-data curation.

Language ID (stopword-lexicon heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting —
each expressed as pure Catalyst column expressions (no UDFs), so they
run inside whole-stage codegen on the scan and oracle-check exactly
against ANSI SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# tiny per-language stopword lexicons (public knowledge). Deliberately
# small: the operator is the scoring machinery, not the lexicon.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "para"),
}

# BPE-ish token pattern: word pieces, numbers, or single non-space symbols
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text_col) -> F.Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_token_count(text_col) -> F.Column:
    """Count of BPE-ish tokens via regexp extraction."""
    return F.size(F.regexp_extract_all(text_col, F.lit(BPE_TOKEN_RE), F.lit(0)))


def _stopword_hits(text_col, words: tuple[str, ...]) -> F.Column:
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    return F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in words])))


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language stopword hit counts + argmax language guess
    ('und' = undetermined when no lexicon hits).

    The argmax is one `greatest` + a CASE chain over the hit columns
    (first language in lexicon order wins ties), NOT a folded
    when/otherwise accumulator: the fold referenced the running best
    twice per level, doubling expression size per language, and after
    projection collapse Catalyst spent ~20s optimizing 2^|langs| copies
    of the tokenizer subtree. This form is linear in |langs|.
    """
    out = df
    for lang, words in LANG_LEXICON.items():
        out = out.withColumn(f"hits_{lang}", _stopword_hits(F.col(text_col), words))
    hits = [F.col(f"hits_{lang}") for lang in LANG_LEXICON]
    max_hits = F.greatest(*hits) if len(hits) > 1 else hits[0]
    guess = F.lit(list(LANG_LEXICON)[-1])
    for lang, h in list(zip(LANG_LEXICON, hits))[-2::-1]:
        guess = F.when(h == max_hits, F.lit(lang)).otherwise(guess)
    return out.withColumn(
        "lang_guess", F.when(max_hits > 0, guess).otherwise(F.lit("und"))
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a
    composite score in [0,1] (heuristic quality gate of a training-data
    pipeline; the thresholds are explicit columns, not magic)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_stop = _stopwords_any(t)
    mean_tok_len = F.when(n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens).otherwise(
        F.lit(0.0)
    )
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("stopword_ratio", F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6))
        .withColumn("mean_token_len", F.round(mean_tok_len, 6))
        .withColumn(
            "quality_score",
            F.round(
                F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
                + F.least(n_stop / F.greatest(n_tokens, F.lit(1)) * 5.0, F.lit(1.0)) * 0.4
                + (1.0 - F.least(n_punct / F.greatest(n_chars, F.lit(1)) * 4.0, F.lit(1.0))) * 0.2,
                6,
            ),
        )
    )


def _stopwords_any(text_col) -> F.Column:
    allwords = tuple(sorted({w for ws in LANG_LEXICON.values() for w in ws}))
    return _stopword_hits(text_col, allwords)


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Document fingerprint: min md5-hash over k-word shingles
    (winnowing-lite / MinHash with one permutation). Identical and
    near-identical prefixe-heavy docs collide; engine-portable."""
    from eynollah_spark.operators.dedup import _h64

    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return df.withColumn(
        "fingerprint",
        F.array_min(F.transform(shingles, lambda s: _h64(s))),
    )


def winnowing_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS local algorithm): hash every k-token
    shingle, slide a window of ``w`` consecutive shingle hashes, keep
    each window's minimum; the distinct kept hashes are the document's
    fingerprint set. Guarantee: two documents sharing any run of at
    least ``w + k - 1`` tokens share at least one fingerprint, while
    only ~2/(w+1) of all shingle hashes are retained — the standard
    sub-sampled plagiarism/near-dup sketch between full-shingle
    Jaccard (everything) and single-min ``fingerprint`` (one value).

    All-codegen: the shingle hashes and window minima are array
    expressions on the scan side — no shuffle, no UDF. Per-doc output:
    (n_grams, n_fingerprints, min_fp, fp_xor) where fp_xor is the
    order-independent XOR digest of the distinct fingerprint set (an
    engine-portable set equality witness). Reference analog: the
    fingerprinting role eynollah's per-region hashes play for resume
    bookkeeping (utils/__init__.py rolling ids), generalised to the
    published winnowing scheme.
    """
    from eynollah_spark.operators.dedup import _h64

    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    hashes = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: _h64(F.concat_ws(" ", F.slice(toks, i + 1, k))),
    )
    # each stage lands in its own projection: the hash array and the
    # fingerprint set are referenced several times downstream, and an
    # inlined expression would be recomputed per reference (the window
    # pass would rebuild the whole hash array per window element —
    # O(n^2) md5 calls; CollapseProject keeps multi-referenced
    # non-cheap expressions bound to one evaluation)
    hs = df.select("doc_id", hashes.alias("_hs"))
    m = F.size(F.col("_hs"))
    # window minima as a w-fold element-wise least over shifted slices
    # (the dedup zip-slice pattern): the transform(j ->
    # array_min(slice)) form allocates a fresh w-slice per window
    # element inside an interpreted lambda — O(m*w) allocations; this
    # form is w-1 cheap least() folds over full slices. Degenerate
    # m < w stays correct: short slices zip-pad with null and least()
    # ignores nulls, leaving min of all m hashes in the one window.
    nwin = F.greatest(m - w, F.lit(0)) + 1
    wins = F.slice(F.col("_hs"), 1, nwin)
    for j in range(1, w):
        wins = F.zip_with(
            wins,
            F.slice(F.col("_hs"), 1 + j, nwin),
            lambda x, y: F.least(x, y),
        )
    fp = hs.select(
        "doc_id",
        m.cast("int").alias("n_grams"),
        F.array_distinct(wins).alias("_fps"),
    )
    return fp.select(
        "doc_id",
        "n_grams",
        F.size(F.col("_fps")).cast("int").alias("n_fingerprints"),
        F.array_min(F.col("_fps")).alias("min_fp"),
        F.aggregate(
            F.col("_fps"), F.lit(0).cast("bigint"), lambda acc, x: acc.bitwiseXOR(x)
        ).alias("fp_xor"),
    )


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    stop_words: tuple[str, ...] = GOPHER_STOPS,
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, A1.1) as a
    single map-side pass — the published-threshold variant of
    ``quality_features``: word-count bounds, mean word length in
    [3, 10], symbol-to-word ratio (# and ellipsis) <= 0.1, <= 90% of
    lines bullet-led, <= 30% of lines ellipsis-ended, >= 80% of words
    containing an alphabetic character, and >= 2 distinct hits from
    the stop-word probe list. Boundaries are inclusive on the keep
    side: Rae et al. A1.1 removes a document only on STRICT violation
    of a threshold, so a doc sitting exactly on a published boundary
    is kept. Pure Catalyst (string/array expressions
    only), zero shuffle, engine-portable arithmetic (counts and exact
    ratios; rounding only at the output edge).

    Returns per doc: the rule inputs plus the combined ``gopher_keep``.
    """
    t = F.col(text_col)
    toks = F.filter(
        F.split(F.trim(t), r"\s+"), lambda x: F.length(x) > 0
    )
    nw = F.size(toks)
    lines = F.split(t, "\n")
    nl = F.size(lines)
    n_hash = F.length(t) - F.length(F.regexp_replace(t, "#", ""))
    n_ell = (
        F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
    ) / F.lit(3)
    bullet = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    )
    ell_end = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$")))
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    # one lowering pass: the distinct-intersection size IS the number
    # of stop words present (the list has no duplicates), and the
    # lowered token array appears exactly once in the plan — the
    # per-stop-word array_contains form re-lowered the full token
    # array len(stop_words) times per row
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(s) for s in stop_words]),
        )
    )
    mean_wl = F.when(
        nw > 0,
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        )
        / nw,
    ).otherwise(F.lit(0.0))
    sym_ratio = F.when(nw > 0, (n_hash + n_ell) / nw).otherwise(F.lit(0.0))
    out = df.select(
        "doc_id",
        nw.cast("int").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(bullet / nl, 6).alias("bullet_frac"),
        F.round(ell_end / nl, 6).alias("ellipsis_frac"),
        F.round(
            F.when(nw > 0, alpha / nw).otherwise(F.lit(0.0)), 6
        ).alias("alpha_frac"),
        stop_hits.cast("int").alias("stop_hits"),
        (
            (nw >= 50)
            & (nw <= 100000)
            & (mean_wl >= 3)
            & (mean_wl <= 10)
            & (sym_ratio <= 0.1)
            & (bullet / nl <= 0.9)
            & (ell_end / nl <= 0.3)
            & (nw > 0)
            & (alpha / nw >= 0.8)
            & (stop_hits >= 2)
        ).alias("gopher_keep"),
    )
    return out


def c4_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) as a map-side
    pass: keep only lines that end in terminal punctuation AND have
    >= 5 words; drop whole docs containing "lorem ipsum" or a curly
    brace, or with < 3 sentences. Returns the cleaned text alongside
    the decision inputs so the gate is auditable. Pure Catalyst array
    expressions, zero shuffle.

    Deliberate deviation from C4: the published filter drops a page
    for an OPENING brace ``{`` only; here ``has_brace`` matches either
    brace (``[{}]``), so a doc whose only brace is ``}`` is dropped
    too. The DuckDB oracle SQL applies the same ``[{}]`` gate, so the
    oracle comparison does not show this difference from C4.

    Returns per doc: (doc_id, n_lines, n_kept_lines, n_sentences,
    has_lorem, has_brace, c4_keep, clean_text).
    """
    t = F.col(text_col)
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"]\s*$')
        & (
            F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda x: F.length(x) > 0))
            >= 5
        ),
    )
    n_sent = (
        F.length(t)
        - F.length(
            F.regexp_replace(
                F.regexp_replace(F.regexp_replace(t, r"\.", ""), "!", ""),
                r"\?",
                "",
            )
        )
    ).cast("int")
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.rlike("[{}]")
    return df.select(
        "doc_id",
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            ~has_lorem & ~has_brace & (n_sent >= 3) & (F.size(kept) > 0)
        ).alias("c4_keep"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def otsu_threshold(
    df: DataFrame, value_col: str, bucket_width: int = 1 << 16
) -> DataFrame:
    """Otsu's threshold over an integer feature column (A10 analog of
    otsu_copy_binary, utils/__init__.py:302-313): histogram aggregation
    + cumulative class statistics per candidate threshold + argmax of
    between-class variance. Pure relational — no iteration,
    engine-portable: all floating math derives from exact integer sums
    so the argmax is bit-identical across engines.

    Scale shape — the cumulative histogram is a TWO-LEVEL prefix sum
    (the pack_documents pattern), never a single-partition window:
    (1) per-bucket count/sum totals (groupBy on v // bucket_width),
    (2) bucket offsets via a window over the tiny BUCKET table,
    (3) within-bucket cumsum + offset. A bounded value domain (e.g.
    an n_chars histogram) collapses to one bucket and behaves exactly
    as before; a high-cardinality feature no longer funnels its whole
    distinct-value table through one partition.

    Returns one row: threshold, between_var, n_below, n_above.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("bigint")
    hist = df.groupBy(v.alias("v")).agg(F.count(F.lit(1)).alias("c"))
    hist = hist.withColumn(
        "_b", F.floor(F.col("v") / F.lit(bucket_width)).cast("bigint")
    )
    bucket_tot = hist.groupBy("_b").agg(
        F.sum("c").alias("_bc"), F.sum(F.col("v") * F.col("c")).alias("_bs")
    )
    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "_b",
        F.coalesce(F.sum("_bc").over(wb), F.lit(0)).alias("_offc"),
        F.coalesce(F.sum("_bs").over(wb), F.lit(0)).alias("_offs"),
    )
    wv = Window.partitionBy("_b").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        hist.withColumn("_n0i", F.sum("c").over(wv))
        .withColumn("_s0i", F.sum(F.col("v") * F.col("c")).over(wv))
        .join(F.broadcast(offsets), "_b")
        .withColumn("n0", F.col("_offc") + F.col("_n0i"))
        .withColumn("s0", F.col("_offs") + F.col("_s0i"))
    )
    tot = hist.agg(
        F.sum("c").alias("nt"), F.sum(F.col("v") * F.col("c")).alias("st")
    )
    # between-class variance in the engine-exact form
    #   n0*(nt-n0)*(mu0-mu1)^2 == D^2 / (n0*(nt-n0)),
    #   D = s0*nt - st*n0  (an exact int64)
    # — ONE double multiply + ONE divide on exactly-representable
    # integers, so the value (and the argmax over it) is bit-identical
    # in any IEEE engine; the mu-subtraction form's operation order
    # left a last-ulp divergence visible at sf0.1 magnitudes
    scored = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("n0") < F.col("nt"))
        .withColumn(
            "_d",
            (
                F.col("s0") * F.col("nt") - F.col("st") * F.col("n0")
            ).cast("double"),
        )
        .withColumn(
            "between",
            (F.col("_d") * F.col("_d"))
            / (F.col("n0") * (F.col("nt") - F.col("n0"))).cast("double"),
        )
    )
    return (
        scored.orderBy(F.desc("between"), F.asc("v"))
        .limit(1)
        .select(
            F.col("v").alias("threshold"),
            # emitted RAW: the D^2/den construction is bit-identical
            # across engines, while round(x, 4) at 1e11 magnitudes sits
            # BELOW double ulp resolution (~6e-5) and the two engines'
            # rounding implementations legitimately disagree there
            F.col("between").alias("between_var"),
            F.col("n0").alias("n_below"),
            (F.col("nt") - F.col("n0")).alias("n_above"),
        )
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, the count
    of distinct k-word shingles it shares with each benchmark (eval
    set) document — the standard n-gram-overlap contamination check a
    training-data pipeline runs before every release.

    Scale shape: the corpus side shingles MAP-SIDE — per-doc distinct
    shingles come from the row-local ``shingle_array`` (array_distinct
    inside the row) and explode, with NO corpus shuffle on shingle
    (``word_shingles``' global ``.distinct()`` would be exactly that
    shuffle); the BENCHMARK side is broadcast — eval sets are small
    and bounded (10^3-10^5 docs) while the corpus is 100 TB. The one
    remaining exchange is the groupBy((doc_id, bench_id)) after the
    broadcast join. Pure Catalyst, no UDFs.

    Returns (doc_id, bench_id, n_shared) for pairs with at least
    ``min_shared`` shared shingles, self-pairs excluded (a benchmark
    drawn from the corpus trivially matches itself).
    """
    from eynollah_spark.operators.dedup import shingle_array

    sh_d = docs.select(
        "doc_id", F.explode(shingle_array(F.col(text_col), k)).alias("shingle")
    )
    sh_b = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        F.explode(shingle_array(F.col(text_col), k)).alias("shingle"),
    )
    out = (
        sh_d.join(F.broadcast(sh_b), "shingle")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    if min_shared > 1:
        out = out.filter(F.col("n_shared") >= min_shared)
    return out


# PII patterns chosen for identical semantics in Java regex (Spark)
# and RE2 (DuckDB oracle): no backreferences, no lookaround.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d[\d\-]{7,}\d"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction pass (emails, IPv4s, +international phone
    shapes): per doc, match counts and the scrubbed text with each
    match replaced by a typed placeholder — the standard pre-training
    scrub. Pure Catalyst regexp expressions; linear scan-side work,
    no shuffle at all."""
    t = F.col(text_col)

    def n(pat):
        return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))

    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "[EMAIL]"), IP_RE, "[IP]"
        ),
        PHONE_RE,
        "[PHONE]",
    )
    return docs.select(
        "doc_id",
        n(EMAIL_RE).alias("n_emails"),
        n(IP_RE).alias("n_ips"),
        n(PHONE_RE).alias("n_phones"),
        scrubbed.alias("scrubbed"),
        F.length(scrubbed).cast("int").alias("n_chars_scrubbed"),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals over the token stream:
    duplicate-token ratio (1 - distinct/total) and the fraction of
    bigrams taken by the single most frequent bigram — the standard
    repetition filters for training-data quality gating.

    One explode + groupBy(doc_id, bigram) + per-doc max: partial
    aggregation happens map-side, the only shuffle is on doc_id."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    base = docs.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
    ).withColumn(
        "dup_token_ratio",
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                (F.col("n_tokens") - F.col("n_distinct"))
                / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bg = docs.select("doc_id", F.explode(bigrams).alias("bg"))
    top = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_bigram_n"),
            F.sum("c").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            F.col("top_bigram_n").cast("int").alias("top_bigram_n"),
            F.col("n_bigrams").cast("int").alias("n_bigrams"),
            F.round(F.col("top_bigram_n") / F.col("n_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
        )
    )
    return (
        base.join(top, "doc_id", "left")
        .withColumn("top_bigram_n", F.coalesce("top_bigram_n", F.lit(0)))
        .withColumn("n_bigrams", F.coalesce("n_bigrams", F.lit(0)))
        .withColumn(
            "top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0))
        )
    )


def pack_documents(
    docs: DataFrame,
    budget: int = 2048,
    text_col: str = "text",
    bucket_size: int = 1 << 16,
) -> DataFrame:
    """Sequence packing for training: assign documents (in doc_id
    order) to consecutive packs of ~``budget`` tokens — pack_id =
    floor(exclusive_prefix_tokens / budget), the contiguous-fill rule
    (a doc longer than the budget spans its own pack(s) naturally).

    Scale shape — the global prefix sum is TWO-LEVEL, never a
    single-partition window: (1) per-bucket token totals (one tiny
    groupBy on doc_id // bucket_size), (2) bucket offsets via a window
    over the BUCKET table (rows = corpus/bucket_size, broadcast back),
    (3) within-bucket exclusive cumsum + offset. At 10^9 docs the
    bucket table is ~15k rows; no stage ever sorts the corpus in one
    partition. Deterministic, exact SQL oracle via a plain window
    cumsum.

    Returns (doc_id, n_tokens, pack_id).
    """
    from pyspark.sql import Window

    base = docs.select(
        "doc_id",
        token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
        (F.col("doc_id") / bucket_size).cast("bigint").alias("_b"),
    )
    bucket_tot = base.groupBy("_b").agg(F.sum("n_tokens").alias("_bt"))
    wb = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.withColumn(
        "_off", F.coalesce(F.sum("_bt").over(wb), F.lit(0))
    ).select("_b", "_off")
    win = Window.partitionBy("_b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        base.join(F.broadcast(offsets), "_b")
        .withColumn(
            "_pre",
            F.col("_off") + F.coalesce(F.sum("n_tokens").over(win), F.lit(0)),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.floor(F.col("_pre") / budget).cast("bigint").alias("pack_id"),
        )
    )


# ---------------------------------------------------------------------------
# bigram-LM quality scoring (CCNet-style perplexity filter, quantized)
# ---------------------------------------------------------------------------
def bigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document cross-entropy under a bigram LM trained on the
    corpus itself — the CCNet/KenLM "perplexity quality filter" shape
    (low score = predictable, well-formed text; high = unnatural or
    garbled), with probabilities QUANTIZED to powers of two so the
    score is integer-exact and engine-portable (no libm log whose last
    ulp could differ between engines):

        bits(x)   = floor(log2(x)) = length(bin(x)) - 1
        cost(w1 w2) = bits(c(w1) + V) - bits(c(w1 w2) + 1)
        xent_bits = avg over bigram occurrences of cost

    which is -log2 of the add-one-smoothed bigram probability rounded
    to its power-of-two bucket. Returns (doc_id, n_bigrams,
    xent_bits); docs with < 2 tokens have n_bigrams = 0 and NULL
    score.

    Scale shape: bigram/prefix counts are two corpus-wide groupBys on
    a 60-bit hash key (never the raw strings); scoring joins the
    occurrence stream to both count tables on those keys (AQE handles
    hot-bigram skew); the vocab size V is a 1-row aggregate broadcast
    by crossJoin. No UDFs, no driver collection.
    """
    from eynollah_spark.operators.dedup import _h64

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )
    n = F.size(toks)
    # guard: F.sequence(0, n-2) would COUNT DOWN for n < 2
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.concat(
                    F.element_at(toks, i + 1), F.lit(" "), F.element_at(toks, i + 2)
                ).alias("bg"),
                F.element_at(toks, i + 1).alias("pre"),
            ),
        ),
    ).otherwise(F.array())
    occ = df.select(
        "doc_id", F.explode(pairs).alias("p")
    ).select(
        "doc_id",
        _h64(F.col("p.bg")).alias("bh"),
        _h64(F.col("p.pre")).alias("ph"),
    )
    cb = occ.groupBy("bh").agg(F.count(F.lit(1)).alias("c_big"))
    cp = occ.groupBy("ph").agg(F.count(F.lit(1)).alias("c_pre"))
    vocab = occ.agg(F.countDistinct("ph").alias("v"))
    bits = lambda c: F.length(F.bin(c))  # noqa: E731 — shared offset of 1 cancels in the difference
    scored = (
        occ.join(cb, "bh")
        .join(cp, "ph")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (bits(F.col("c_pre") + F.col("v")) - bits(F.col("c_big") + 1)).alias(
                "cost_bits"
            ),
        )
    )
    per = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("cost_bits"), 4).alias("xent_bits"),
    )
    return (
        df.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "xent_bits",
        )
    )


# ---------------------------------------------------------------------------
# hashed linear quality classifier (fastText-style filter)
# ---------------------------------------------------------------------------
def hashed_classifier_scores(
    df: DataFrame, text_col: str = "text", buckets: int = 1 << 16
) -> DataFrame:
    """Linear text classifier over hashed bag-of-words features — the
    fastText-filter shape used for quality/domain gating (DCLM, LLaMA
    CCNet pipelines): token -> feature bucket by 60-bit hash, a
    broadcast (bucket, weight) table, document logit = mean bucket
    weight.

    The weight table here is a deterministic md5-derived stand-in for
    trained parameters (integer weights in [-1000, 1000]; the plumbing
    — broadcast dim join against an exploded token stream, mean-pool,
    threshold — is the production shape; swap the range() expression
    for a real table of trained weights). Integer sums keep the logit
    exact, so the DuckDB oracle hashes equal.

    Returns (doc_id, n_toks, logit, keep); docs with no tokens get
    n_toks = 0 and NULL logit/keep.
    """
    from eynollah_spark.operators.dedup import _h64

    weights = df.sparkSession.range(buckets).select(
        F.col("id").alias("bucket"),
        ((_h64(F.concat(F.lit("w:"), F.col("id"))) % 2001) - 1000).alias("w"),
    )
    toks = df.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("tok"),
    ).select("doc_id", (_h64(F.col("tok")) % buckets).alias("bucket"))
    per = (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.avg("w"), 4).alias("logit"),
            (F.avg("w") > 0).alias("keep"),
        )
    )
    return (
        df.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_toks", F.lit(0)).alias("n_toks"),
            "logit",
            "keep",
        )
    )


def sft_pairs(
    turns: DataFrame,
    max_context_turns: int = 8,
    sep: str = "\n\n",
) -> DataFrame:
    """(prompt, response) supervised-finetuning pairs from a turn
    table (conv_id, turn_idx, role, text): one pair per assistant
    turn, prompt = the preceding <= max_context_turns turns rendered
    as ``role: text`` in conversation order. The frame bound is the
    scale contract — per-row window state is K turns, never the whole
    conversation, so a 10^6-turn skew conversation costs the same per
    row as a 10-turn one. One exchange (hash by conv_id), shared by
    both window expressions.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-max_context_turns, -1)
    )
    line = F.concat(F.col("role"), F.lit(": "), F.col("text"))
    ctx = F.collect_list(line).over(w)
    return (
        turns.withColumn("prompt", F.array_join(ctx, sep))
        .withColumn("n_context_turns", F.size(ctx))
        .filter(F.col("role") == "assistant")
        .select(
            "conv_id",
            "turn_idx",
            "prompt",
            F.col("text").alias("response"),
            "n_context_turns",
        )
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
) -> DataFrame:
    """Adjacent-symbol pair frequencies — the statistic one BPE merge
    step computes when training a tokenizer on the corpus (the argmax
    pair becomes the next merge; a driver loop over this job IS
    distributed BPE training). Two shuffles, both on shrinking keys:
    word-count (partial agg on words) then pair aggregation over the
    DISTINCT-word table, whose size is the vocabulary, not the corpus
    — at 100 TB the second stage runs on ~10^8 rows, not 10^13.

    Returns the ``top_n`` (pair, n) rows, count-desc then pair-asc —
    deterministic under ties.
    """
    t = F.trim(F.col(text_col))
    words = (
        docs.select(F.explode(F.split(t, r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = (
        words.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")
            ).alias("pair"),
            "wc",
        )
        .groupBy("pair")
        .agg(F.sum("wc").alias("n"))
    )
    return pairs.orderBy(F.desc("n"), "pair").limit(top_n)


def ngram_diversity(
    docs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distinct-over-total n-gram ratio per group — the mode-collapse
    / memorization gauge for synthetic or scraped sources (a source
    whose diversity collapses is template spam or a looping generator).
    Exact distinct via the standard two-stage partial-distinct
    aggregate: shuffle keys are (group, gram), so hot grams spread
    across the gram dimension rather than hot-spotting one group task.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    grams = F.expr(
        f"transform(sequence(1, size({'_toks'}) - {n - 1}),"
        f" i -> array_join(slice(_toks, i, {n}), ' '))"
    )
    g = (
        docs.withColumn("_toks", toks)
        .filter(F.length(F.trim(F.col(text_col))) > 0)
        .filter(F.size("_toks") >= n)
        .select(group_col, F.explode(grams).alias("gram"))
    )
    return (
        g.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.countDistinct("gram").alias("distinct_grams"),
        )
        .withColumn(
            "diversity",
            F.round(F.col("distinct_grams") / F.col("n_grams"), 6),
        )
        .orderBy(group_col)
    )


def preference_pairs(
    pairs: DataFrame,
    max_pairs_per_prompt: int = 3,
) -> DataFrame:
    """(prompt, chosen, rejected) preference data from an SFT-pair
    table: two responses to the SAME prompt form a pair, the
    higher-scoring one chosen (score = whitespace token count here;
    swap in a reward column upstream). Ties are dropped — a pair with
    no margin teaches nothing. Skew contract: the self-join key is
    md5(prompt) and the per-prompt margin-desc rank caps OUTPUT at
    ``max_pairs_per_prompt``; the join itself is still quadratic
    within one prompt group, so for corpora with viral prompts cap
    candidates upstream first (``sampling.per_group_quota`` on the
    prompt key is the tool — it salt-bounds the hot group too).
    """
    from pyspark.sql import Window

    p = pairs.select(
        "conv_id",
        "turn_idx",
        "prompt",
        "response",
        token_count(F.col("response")).alias("score"),
        F.md5("prompt").alias("pk"),
    )
    a, b = p.alias("a"), p.alias("b")
    j = a.join(
        b,
        (F.col("a.pk") == F.col("b.pk"))
        & (F.col("a.score") > F.col("b.score"))
        & (F.col("a.response") != F.col("b.response")),
    ).select(
        F.col("a.pk").alias("pk"),
        F.col("a.prompt").alias("prompt"),
        F.col("a.response").alias("chosen"),
        F.col("b.response").alias("rejected"),
        F.col("a.score").alias("chosen_score"),
        F.col("b.score").alias("rejected_score"),
        (F.col("a.score") - F.col("b.score")).alias("margin"),
        F.col("a.conv_id").alias("_ac"),
        F.col("a.turn_idx").alias("_at"),
        F.col("b.conv_id").alias("_bc"),
        F.col("b.turn_idx").alias("_bt"),
    )
    w = Window.partitionBy("pk").orderBy(
        F.desc("margin"), "_ac", "_at", "_bc", "_bt"
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= max_pairs_per_prompt)
        .select(
            "pk",
            "prompt",
            "chosen",
            "rejected",
            "chosen_score",
            "rejected_score",
            "margin",
            "rnk",
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    stride: int = 192,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-window chunking with overlap — the long-document
    complement of ``pack_documents`` (that packs SHORT docs up to a
    context length; this splits LONG docs across it, stride < chunk
    giving the training/embedding overlap). One chunk per window
    start (0, stride, 2*stride, ... while < n_tokens); pure map-side
    explode, zero shuffles, no length cap on the input doc.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    t = F.trim(F.col(text_col))
    toks = F.split(t, r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(stride))
    return (
        docs.filter(F.length(t) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            toks.alias("_toks"),
            n.alias("_n"),
            F.explode(starts).alias("_st"),
        )
        .select(
            "doc_id",
            (F.col("_st") / stride).cast("int").alias("chunk_idx"),
            F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_st")).alias(
                "n_tokens"
            ),
            F.array_join(
                F.slice("_toks", F.col("_st") + 1, F.lit(chunk_tokens)), " "
            ).alias("chunk_text"),
        )
    )
