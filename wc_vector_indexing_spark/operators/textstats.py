"""Text-analysis operators for training-data curation: quality scoring,
language ID, token counting, rolling-hash fingerprinting.

All pure Catalyst expressions (no UDFs) — these run in whole-stage
codegen directly over the parquet scan, which is exactly what you want
for a 100 TB quality-filter pass: scan → project → filter, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram-free heuristic
# language-ID (hit-ratio argmax). Deliberately small: the point is a
# cheap JVM-side pass, not a model.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "los", "las", "que", "y", "en", "un", "una"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "fr": ["le", "la", "les", "des", "et", "est", "une", "que", "dans", "pour"],
}
LANG_MIN_RATIO = 0.05


def tokens_col(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(c)), r"\s+")


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count — the cheap 'approx_tokens' complement
    (the chunker's budget heuristic uses chars/4.0 instead)."""
    return F.size(tokens_col(text_col))


def bpe_ish_token_count(text_col: str | Column) -> Column:
    """BPE-flavored token estimate: count word pieces + digits + punct
    runs via regex, ~GPT-2 pre-tokenizer shape. Still pure regex."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # split into word / number / punctuation runs, count non-empty pieces
    pieces = F.split(c, r"(?<=\W)(?=\w)|(?<=\w)(?=\W)")
    return F.size(F.filter(pieces, lambda x: F.trim(x) != ""))


def _char_class_count(c: Column, pattern: str) -> Column:
    """#chars NOT matching the negated class == #chars in the class."""
    return F.length(F.regexp_replace(c, pattern, ""))


def quality_score_col(text_col: str | Column) -> Column:
    """The composite quality score as a standalone column expression —
    usable directly on a stream (no join, no state). NULL for a NULL or
    empty text (its character ratios are undefined)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n_tokens = token_count(c)
    n_chars = F.when(F.length(c) > 0, F.length(c))
    digit_ratio = _char_class_count(c, r"[^0-9]") / n_chars
    punct_ratio = _char_class_count(c, r"[^.,;:!?]") / n_chars
    return (
        F.least(F.lit(1.0), n_tokens / F.lit(100.0)) * 0.4
        + (1.0 - digit_ratio) * 0.3
        + (1.0 - F.least(F.lit(1.0), punct_ratio * 5.0)) * 0.3
    )


def text_quality(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality metrics (length / digit / punctuation /
    uppercase ratios + a composite score). Deterministic rational
    arithmetic — mirrors the DuckDB oracle exactly; the ratios and the
    score of an empty text are NULL."""
    from wc_vector_indexing_spark.functions.partitioning import fan_out

    docs = fan_out(docs)  # regexp counts over every char; parallelize them
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    digits = _char_class_count(c, r"[^0-9]")
    punct = _char_class_count(c, r"[^.,;:!?]")
    upper = _char_class_count(c, r"[^A-Z]")
    per_char = F.when(n_chars > 0, n_chars)
    digit_ratio = digits / per_char
    punct_ratio = punct / per_char
    upper_ratio = upper / per_char
    score = quality_score_col(c)
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 4).alias("avg_token_len"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(upper_ratio, 4).alias("upper_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def _lang_ratios(text_col: str | Column) -> dict[str, Column]:
    toks = tokens_col(text_col)
    n = F.size(toks)
    return {
        lang: F.size(F.filter(toks, lambda x: x.isin(words))) / n
        for lang, words in STOPWORDS.items()
    }


def predicted_lang_col(text_col: str | Column) -> Column:
    """The argmax language prediction as a standalone column expression
    (stream-safe, no join)."""
    r = _lang_ratios(text_col)
    en, es, de, fr = r["en"], r["es"], r["de"], r["fr"]
    m = F.lit(LANG_MIN_RATIO)
    return (
        F.when((en >= es) & (en >= de) & (en >= fr) & (en >= m), "en")
        .when((es >= de) & (es >= fr) & (es >= m), "es")
        .when((de >= fr) & (de >= m), "de")
        .when(fr >= m, "fr")
        .otherwise("other")
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit-ratio language ID. For each language L:
    ratio_L = |tokens ∈ stopwords_L| / |tokens|; predict argmax if it
    clears LANG_MIN_RATIO, else 'other' (CJK text without spaces lands
    in 'other' by construction)."""
    from wc_vector_indexing_spark.functions.partitioning import fan_out

    docs = fan_out(docs)  # interpreted stopword-set filters per token ×4 langs
    ratios = _lang_ratios(text_col)
    en, es, de, fr = ratios["en"], ratios["es"], ratios["de"], ratios["fr"]
    predicted = predicted_lang_col(text_col)
    return docs.select(
        F.col(id_col),
        F.round(en, 4).alias("en_ratio"),
        F.round(es, 4).alias("es_ratio"),
        F.round(de, 4).alias("de_ratio"),
        F.round(fr, 4).alias("fr_ratio"),
        predicted.alias("predicted_lang"),
    )


SCRIPTS = ("latin", "cyrillic", "han", "arabic")

_SCRIPT_RE = {
    # Java (Spark) script properties; the DuckDB oracle uses RE2's
    # \p{Latin} etc. — verified count-identical on mixed-script text
    "latin": r"\p{IsLatin}",
    "cyrillic": r"\p{IsCyrillic}",
    "han": r"\p{IsHan}",
    "arabic": r"\p{IsArabic}",
}


def script_mix(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unicode-script composition per document: per-script character
    ratios + the dominant script — the charset-level complement to the
    stopword ``lang_id`` (CJK/Cyrillic corpora have no stopword hits to
    vote with; their script ratio identifies them anyway).

    Zero shuffles: regexp_count per script is a codegen projection over
    the scan. Dominant = first max in SCRIPTS order, 'other' when no
    script character occurs (ratios measured against ALL chars, so
    digits/punctuation dilute every script equally)."""
    c = F.col(text_col)
    n = F.length(c)
    cnt = {s: F.regexp_count(c, F.lit(rx)) for s, rx in _SCRIPT_RE.items()}
    lat, cyr, han, ara = (cnt[s] for s in SCRIPTS)
    dominant = (
        F.when((lat >= cyr) & (lat >= han) & (lat >= ara) & (lat > 0), "latin")
        .when((cyr >= han) & (cyr >= ara) & (cyr > 0), "cyrillic")
        .when((han >= ara) & (han > 0), "han")
        .when(ara > 0, "arabic")
        .otherwise("other")
    )
    ratio = {s: F.round(cnt[s] / F.nullif(n, F.lit(0)), 4) for s in SCRIPTS}
    return docs.select(
        F.col(id_col),
        *[F.coalesce(ratio[s], F.lit(0.0)).alias(f"{s}_ratio") for s in SCRIPTS],
        dominant.alias("dominant_script"),
    )


def winnow_fingerprint(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    scheme): hash every token k-gram, slide a window of w consecutive
    hashes, keep each window's minimum; the fingerprint is the distinct
    set of selected hashes per document. Guarantees any shared run of
    w + k - 1 tokens between two documents shares at least one selected
    hash — the local-similarity complement to ``doc_fingerprint``'s
    whole-document identity.

    Output: (id, fp) rows, one per selected hash.
    Plan: ZERO shuffles — the document's k-gram hashes are already an
    in-row array, so the sliding min is ``array_min(slice(...))`` per
    window start, the per-doc fingerprint set is ``array_distinct``
    (doc_id is in every output row, so per-doc distinct equals global
    distinct), and the only operator left is a generator — a pure map
    over the scan. At 100 TB this winnows every partition independently
    with no exchange at all (the earlier version paid a doc-keyed window
    shuffle + a distinct exchange for the same result).

    ``token_hash``: "xxhash64" (fast default) or "md5" (engine-portable,
    what the DuckDB oracle mirrors).
    """
    toks = tokens_col(text_col)
    gram = f"concat_ws(' ', slice(__toks, i + 1, {k}))"
    if token_hash == "md5":
        h_expr = f"CAST(conv(substring(md5({gram}), 1, 15), 16, 10) AS BIGINT)"
    else:
        h_expr = f"xxhash64({gram})"
    # total expression: guarded by the size>=k filter below, but kept
    # total anyway (sequence(0, negative) would throw if Catalyst ever
    # reordered the projection past the filter)
    hashes = F.expr(
        f"CASE WHEN size(__toks) >= {k} "
        f"THEN transform(sequence(0, size(__toks) - {k}), i -> {h_expr}) "
        f"ELSE array() END"
    )
    # window starts: pos ∈ [0, max(n_grams - w, 0)]; docs with fewer
    # than w grams still fingerprint (slice clips at the array end, so
    # pos 0's window = all grams)
    selected = F.expr(
        f"array_distinct(transform(sequence(0, greatest(size(__hs) - {w}, 0)), "
        f"i -> array_min(slice(__hs, i + 1, {w}))))"
    )
    return (
        docs.select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size(F.col("__toks")) >= k)
        .select(F.col(id_col), hashes.alias("__hs"))
        .select(F.col(id_col), F.explode(selected).alias("fp"))
    )


def doc_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Content fingerprints: full-text sha256 + a polynomial rolling hash
    of the token stream (order-sensitive, whitespace-insensitive — the
    'same words, same order' identity).

    Arithmetic stays in [0, 2^31) so it is ANSI-safe (no long overflow):
    acc' = (acc * 1000003 + (h(tok) mod 2^31)) mod 2^31.

    ``token_hash``: "xxhash64" (default — fastest, Spark-native) or
    "md5" (first 8 hex digits as an integer — bit-identical in any
    engine with md5, which is what the DuckDB oracle runs).
    """
    toks = tokens_col(text_col)
    mod = F.lit(2**31)
    if token_hash == "md5":
        def h(x):
            return F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("long")
    else:
        h = F.xxhash64
    rolling = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(1000003) + F.pmod(h(x), mod), mod),
    )
    return docs.select(
        F.col(id_col),
        F.sha2(F.col(text_col), 256).alias("text_sha"),
        rolling.alias("rolling_hash"),
    )


def lexical_diversity(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document lexical-diversity signals: type/token counts,
    type-token ratio, unigram Shannon entropy (nats), normalized
    entropy, and hapax ratio (fraction of types occurring exactly once).

    Low-diversity text (keyword stuffing, boilerplate, template spam)
    collapses all four signals at once, which single-ratio heuristics
    miss — this is the in-row complement to the Gopher repetition
    fractions in ``operators/repetition.py``.

    All in-row higher-order-function arithmetic — zero shuffle, the
    whole pass is scan → project, stream-safe. Per-row cost is
    O(types × tokens) which is bounded by document length; the
    ``fan_out`` guard keeps tiny inputs parallel.

    Determinism: types are sorted (``array_sort ∘ array_distinct``)
    before the entropy fold so the floating-point summation order is
    identical in any engine; the DuckDB oracle mirrors the same
    sorted-fold shape.
    """
    from wc_vector_indexing_spark.functions.partitioning import fan_out

    docs = fan_out(docs)  # O(u·n) in-row loops: parallelize small frames
    toks = tokens_col(text_col)
    n = F.size(toks)
    types = F.array_sort(F.array_distinct(toks))
    counts = F.transform(types, lambda d: F.size(F.filter(toks, lambda t: t == d)))
    u = F.size(types)
    nd = n.cast("double")
    entropy = -F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, c: acc + (c / nd) * F.log(c / nd),
    )
    norm_entropy = F.when(u > 1, entropy / F.log(u.cast("double"))).otherwise(F.lit(0.0))
    hapax = F.size(F.filter(counts, lambda c: c == 1))
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        u.alias("n_types"),
        F.round(u / nd, 4).alias("ttr"),
        F.round(entropy, 4).alias("entropy"),
        F.round(norm_entropy, 4).alias("norm_entropy"),
        F.round(hapax / u.cast("double"), 4).alias("hapax_ratio"),
    )


def token_fertility(
    docs: DataFrame,
    text_col: str = "text",
    by: str = "lang",
) -> DataFrame:
    """Per-``by`` tokenizer-fertility stats: docs, token/char totals and
    chars-per-token — the multilingual budgeting number (how many chars
    one token "buys" per language drives per-language sampling budgets;
    cf. fertility analyses in multilingual-tokenizer work, public).

    Whitespace tokens (`tokens_col`) so the oracle can mirror the split
    exactly; swap in `bpe_ish_token_count` for subword-level fertility.
    One map-side-combined aggregate on a low-cardinality key — no other
    shuffle, and only (text, by) are read."""
    return (
        docs.groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count(text_col)).alias("n_tokens"),
            F.sum(F.length(text_col)).alias("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.round(F.col("n_chars") / F.col("n_tokens"), 4),
        )
    )


TOPIC_SEEDS: dict[str, tuple[str, ...]] = {
    # deterministic seed wordlists — the operator under test is the
    # broadcast-lexicon tagging machinery, not lexicon curation
    "commerce": ("price", "order", "customer", "supplier", "discount", "revenue"),
    "technology": ("data", "system", "network", "server", "code", "software"),
    "science": ("research", "theory", "experiment", "energy", "cell", "species"),
    "sports": ("game", "team", "player", "score", "season", "league"),
}


def topic_tagging(
    docs: DataFrame,
    seeds: dict[str, tuple[str, ...]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Seeded-lexicon topic assignment (the IAB-taxonomy-style tagging
    a mixture pipeline needs before it can balance domains): per doc,
    count token hits against each topic's seed list, emit per-topic
    counts + the dominant topic ('other' on zero hits everywhere; ties
    break by seed-dict order). The lexicons ride in the task closure as
    array literals — zero shuffle, pure codegen (array_intersect-free:
    per-topic hit count = size(filter(tokens ∈ seed_set)) so repeated
    hits count, matching tf-weighted tagging)."""
    seeds = seeds or TOPIC_SEEDS
    toks = F.filter(
        F.split(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col), "[^a-z]+"),
        lambda x: x != "",
    )
    out = docs.select(F.col(id_col), toks.alias("_toks"))
    names = list(seeds)
    for name in names:
        seed_arr = F.array(*[F.lit(w) for w in seeds[name]])
        out = out.withColumn(
            f"n_{name}",
            F.size(F.filter(F.col("_toks"), lambda t: F.array_contains(seed_arr, t))),
        )
    # dominant = FIRST max in seed order (walk backwards so earlier
    # names overwrite on ties); 'other' when every count is zero
    best = F.greatest(*[F.col(f"n_{n}") for n in names])
    topic = F.lit("other")
    for name in reversed(names):
        c = F.col(f"n_{name}")
        topic = F.when((c == best) & (best > 0), F.lit(name)).otherwise(topic)
    return out.select(id_col, *[f"n_{n}" for n in names], topic.alias("topic"))


def readability(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948, public):

        206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    with the standard vowel-group syllable heuristic (a run of
    [aeiouy]+ per word ≈ one syllable — exact syllabification needs a
    dictionary; the heuristic is the documented, engine-portable form).
    Sentences = terminal-punctuation runs (min 1). Zero shuffle: three
    regexp_count projections over the scan. Scores round to 4dp."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.greatest(
        F.size(F.filter(F.split(F.lower(c), "[^a-z]+"), lambda x: x != "")), F.lit(1)
    )
    sentences = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.greatest(F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+")), F.lit(1))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.select(
        F.col(id_col),
        words.alias("n_words"),
        sentences.alias("n_sentences"),
        syllables.alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
    )


def percentile_quality_filter(
    docs: DataFrame,
    keep_frac: float = 0.5,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group dynamic quality thresholding: keep the top
    ``keep_frac`` of documents BY QUALITY SCORE WITHIN EACH GROUP
    (language, source, ...). The fixed-threshold gate in ``curate``
    biases multilingual corpora — a cutoff tuned on English silently
    drops most of a lower-scoring language wholesale; ranking within
    the group keeps every slice's best half (the CCNet §3.2 /
    quality-classifier-percentile pattern, Wenzek et al. 2020, public).

    Exact, deterministic form: row_number over (score DESC, doc_id)
    within the group vs ceil(keep_frac * group count). One shuffle,
    keyed by ``group_col`` — and a language key is few-distinct/highly
    skewed, so this exact form is the audit/eval shape. For the 100 TB
    pass use :func:`threshold_quality_filter`: per-group approximate
    quantile thresholds (tiny aggregate) broadcast back over an
    unshuffled scan.

    Output: (doc_id, group, quality_score, grp_rank, grp_total), the
    kept rows only.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.desc("quality_score"), F.asc(id_col)
    )
    scored = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.round(quality_score_col(text_col), 4).alias("quality_score"),
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w).alias("grp_rank"),
        F.count("*").over(Window.partitionBy(group_col)).alias("grp_total"),
    )
    return ranked.filter(
        F.col("grp_rank") <= F.ceil(F.lit(keep_frac) * F.col("grp_total"))
    )


def threshold_quality_filter(
    docs: DataFrame,
    keep_frac: float = 0.5,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    accuracy: int = 10_000,
) -> DataFrame:
    """Scale form of :func:`percentile_quality_filter`: per-group
    (1-keep_frac) quantile of the quality score via approx_percentile
    (a few-row aggregate), broadcast-joined back as a filter. The
    corpus never shuffles — scan → project score → map-side partial
    agg for the thresholds, then scan → broadcast hash join → filter.
    Kept fraction is approximate at the boundary (quantile sketch
    error ~1/accuracy); use the exact ranked form when the boundary
    matters more than the shuffle.
    """
    from pyspark.sql.functions import broadcast

    scored = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.round(quality_score_col(text_col), 4).alias("quality_score"),
    )
    thresholds = scored.groupBy(group_col).agg(
        F.percentile_approx(
            "quality_score", F.lit(1.0 - keep_frac), F.lit(accuracy)
        ).alias("q_threshold")
    )
    return scored.join(broadcast(thresholds), group_col).filter(
        F.col("quality_score") >= F.col("q_threshold")
    )


def fit_quality_thresholds(
    docs: DataFrame,
    keep_frac: float = 0.5,
    group_col: str = "lang",
    text_col: str = "text",
    accuracy: int = 10_000,
    score_col: str | None = None,
) -> dict[str, float]:
    """Offline fit for the stream-time quality gate: the per-group
    (1-keep_frac) score quantiles as a bounded artifact (one row per
    group — languages/sources number in the hundreds, never more).
    Same aggregate as :func:`threshold_quality_filter`; persist the
    dict next to the model artifacts and refit on the batch cadence.
    ``score_col`` reuses an already-projected score instead of
    recomputing it from the text (the curation pipeline's case).
    """
    q = (
        F.col(score_col)
        if score_col
        else F.round(quality_score_col(text_col), 4)
    )
    rows = (
        docs.select(F.col(group_col), q.alias("q"))
        .groupBy(group_col)
        .agg(
            F.percentile_approx("q", F.lit(1.0 - keep_frac), F.lit(accuracy)).alias(
                "t"
            )
        )
        .collect()
    )
    if not rows:
        raise ValueError("fit_quality_thresholds: empty fitting corpus")
    return {r[group_col]: float(r["t"]) for r in rows}


def quality_gate_col(
    thresholds: dict[str, float],
    group_col: str | Column = "lang",
    text_col: str | Column = "text",
    default: float | None = None,
    score_col: str | None = None,
) -> Column:
    """Stream-safe keep flag from offline-fitted per-group thresholds:
    a map-literal lookup + score comparison, pure in-row expression —
    no join, no state, usable on a streaming frame before any
    watermarked stage. Unseen groups fall back to ``default`` (the
    strictest fitted threshold when None — fail closed, not open)."""
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    items = sorted(thresholds.items())
    lut = F.map_from_arrays(
        F.array(*[F.lit(k) for k, _ in items]),
        F.array(*[F.lit(v) for _, v in items]),
    )
    fallback = max(thresholds.values()) if default is None else default
    thr = F.coalesce(lut[g], F.lit(fallback))
    score = (
        F.col(score_col)
        if score_col
        else F.round(quality_score_col(text_col), 4)
    )
    return score >= thr


def code_detect(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Code-vs-prose routing signal (the Stack-style curation split —
    a training pipeline treats code and natural language differently
    at every later stage): pure-codegen integer features over one
    scan, no shuffle, no UDF, and NO floating point — every output is
    a count or an integer-threshold flag, so an engine-portable SQL
    oracle replays it bit-for-bit.

    Features: ``symbol_count`` (brace/bracket/paren/op characters),
    ``n_lines``, ``indent_lines`` (4-space or tab indents),
    ``semi_lines`` (lines ending ';'), ``kw_hits`` (common keyword
    tokens across C-family/Python/JS). ``is_code`` fires when symbol
    density exceeds 4% with at least two keyword hits, or when a third
    of the lines end in ';' over at least four lines — deliberately
    conservative thresholds (prose almost never trips either arm;
    pinned in tests)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    symbol_count = n_chars - F.length(
        F.regexp_replace(t, r"[{}\[\]();=<>]", ""))
    n_lines = F.size(F.split(t, "\n"))
    indent_lines = F.regexp_count(t, F.lit(r"(?m)^(?:    |\t)"))
    semi_lines = F.regexp_count(t, F.lit(r"(?m);[ \t]*$"))
    kw_hits = F.regexp_count(
        t,
        F.lit(r"\b(?:def|class|return|import|function|const|var|void|"
              r"int|elif|lambda|public|static)\b"),
    )
    is_code = (
        ((symbol_count * 25 >= n_chars) & (kw_hits >= 2))
        | ((semi_lines * 3 >= n_lines) & (n_lines >= 4))
    )
    return docs.select(
        id_col,
        symbol_count.cast("long").alias("symbol_count"),
        n_lines.cast("long").alias("n_lines"),
        indent_lines.cast("long").alias("indent_lines"),
        semi_lines.cast("long").alias("semi_lines"),
        kw_hits.cast("long").alias("kw_hits"),
        is_code.alias("is_code"),
    )
