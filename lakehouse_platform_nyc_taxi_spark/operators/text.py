"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (split/regexp/array higher-order functions)
— JVM-side, whole-stage-codegen, no Python in the hot path. Each operator
scales linearly per-row with no shuffle; at 100 TB they run as a single
mapper pass over the document scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.trino import trino_round
from .hashing import md5_long

#: Tiny function-word lexicons for the language-ID heuristic.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "y", "en", "es", "que", "los", "un", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2", "you3", "wo3", "ta1", "zhe4", "bu4"),
}

TOKEN_SPLIT_RE = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (the count basis BPE-ish estimators refine)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SPLIT_RE)


def word_ngrams(toks: Column, n: int) -> Column:
    """Distinct word ``n``-grams of a token array, space-joined, in
    first-occurrence order; empty below ``n`` tokens. The one gram
    definition every text-overlap operator (decontamination, novelty,
    n-gram Jaccard/containment, the LSH re-check, the streaming gate)
    shares, so their grams agree byte for byte.

    Pass a column that already holds the tokens, projected in its own
    select (as :func:`gram_rows` does): the lambda reads ``toks`` ``n``
    times per window, so ``word_ngrams(tokens(col), n)`` would re-run
    the regex split per element (3.6-4x slower measured). element_at is
    O(1) per gram on the materialized array; slice() would copy O(n)
    per position (O(L²) per document).
    """
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def gram_rows(
    df: DataFrame, text_col: str, n: int, keep: list[Column | str]
) -> DataFrame:
    """One row per (document, distinct word ``n``-gram): the ``keep``
    columns (names or aliased expressions) plus ``gram``. A document
    with no gram (shorter than ``n`` tokens) yields no row.

    Tokens, the gram array and the explode each get their own
    projection, so the regex split runs once per document and nothing
    above the explode re-derives the gram array from ``text`` (fused
    projections did that once per exploded row, ~50x measured). The
    explode is explode_outer followed by a NULL-gram filter, not an
    inner explode: InferFiltersFromGenerate adds ``size(grams) > 0``
    under an inner explode and predicate pushdown then inlines the whole
    gram pipeline into a per-row scan filter (~6x measured in the n-gram
    Jaccard core; 29 s vs ~2 s in the streaming gate). The rule skips
    outer generates, and a filter on the generated column cannot move
    below the generate.
    """
    base = df.select(*keep, tokens(text_col).alias("_toks"))
    names = base.columns[:-1]
    return (
        base.select(*names, word_ngrams(F.col("_toks"), n).alias("grams"))
        .select(*names, F.explode_outer("grams").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-style upper estimate: word-ish chunks + digits + punctuation
    each count as a token (regex segmentation, no model needed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def text_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Quality-scoring features: lengths, ratios, and a composite score.

    The quality score mirrors common pretraining-data filters (length
    window, punctuation density, stopword presence, mean word length).
    ``keep`` carries extra input columns through the projection so
    downstream consumers never need to join the stats back to the source
    (stats are a pure projection — a self-join on id would add a shuffle
    for nothing).
    """
    c = F.col(text_col)
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(c)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    en_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin(*LANG_LEXICONS["en"])))
    avg_token_len = (n_chars - (n_tokens - 1)).cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    stopword_ratio = en_hits.cast("double") / n_tokens
    quality = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(0.4)).otherwise(0.0)
        + F.when((avg_token_len >= 3) & (avg_token_len <= 12), F.lit(0.2)).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(0.0)
        + F.when(stopword_ratio >= 0.01, F.lit(0.2)).otherwise(0.0)
    )
    return df.select(
        id_col,
        *keep,
        n_tokens.alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_tokens_bpe"),
        n_chars.alias("n_chars_measured"),
        trino_round(avg_token_len, 4).alias("avg_token_len"),
        trino_round(punct_ratio, 4).alias("punct_ratio"),
        trino_round(stopword_ratio, 4).alias("stopword_ratio"),
        trino_round(quality, 1).alias("quality_score"),
        (quality >= 0.8).alias("is_high_quality"),
    )


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Lexicon-hit language ID (n-gram-heuristic family).

    Scores = function-word hits per language over whitespace tokens;
    prediction = argmax with deterministic tiebreak (lexicon order).
    A real deployment swaps the lexicons for char-n-gram profiles; the
    dataflow (one projection, no shuffle) is identical.
    """
    toks = tokens(text_col)

    def _hit_counter(lex):
        # NB: a default-arg capture (lambda w, _lx=lex: ...) breaks here —
        # PySpark's higher-order-function wrapper derives the number of
        # lambda variables from the Python signature.
        return F.size(F.filter(toks, lambda w: F.lower(w).isin(*lex)))

    hit_cols = {f"hits_{lang}": _hit_counter(lex) for lang, lex in LANG_LEXICONS.items()}
    out = df.select(id_col, *[c.alias(name) for name, c in hit_cols.items()])
    # argmax with stable tiebreak: fold over languages in declared order
    pred = F.lit(None).cast("string")
    best = F.lit(-1)
    for lang in LANG_LEXICONS:
        is_better = F.col(f"hits_{lang}") > best
        pred = F.when(is_better, F.lit(lang)).otherwise(pred)
        best = F.when(is_better, F.col(f"hits_{lang}")).otherwise(best)
    return out.select(
        id_col,
        *hit_cols.keys(),
        pred.alias("predicted_lang"),
    )


def fingerprints(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints for dedup/bucketing:

    - ``content_fp``: md5 over the sorted distinct token set (canonical
      bag-of-words identity — robust to word order).
    - ``winnow_fp``: md5 over the 4 smallest token hashes (a min-k sketch,
      the winnowing family) — robust to small edits.
    """
    toks = tokens(text_col)
    distinct_sorted = F.array_sort(F.array_distinct(toks))
    tok_hashes = F.transform(toks, md5_long)
    min_k = F.slice(F.array_sort(tok_hashes), 1, 4)
    return df.select(
        id_col,
        F.md5(F.array_join(distinct_sorted, " ")).alias("content_fp"),
        F.md5(F.array_join(F.transform(min_k, lambda h: h.cast("string")), "-")).alias(
            "winnow_fp"
        ),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals, one codegen projection:

    - ``distinct_token_ratio``: |distinct tokens| / |tokens| (low = loopy)
    - ``top_bigram_count`` / ``top_bigram_share``: occurrences of the most
      frequent bigram and the fraction of all bigrams it covers (high =
      boilerplate / degenerate repetition)

    The per-doc bigram mode is computed WITHOUT a shuffle: sort the
    bigram array, then a single ``aggregate`` fold finds the longest run
    of equal adjacent elements (run length in a sorted array == bigram
    frequency). O(n log n) per row, zero exchanges — at 100 TB this is
    pure mapper work riding the document scan, where the
    explode+groupBy formulation would shuffle one row per token.

    Ratios are exact IEEE divisions of integer-valued operands, so they
    are bit-identical across engines with no rounding needed.
    """
    toks = tokens(text_col)
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # longest run of equal adjacent elements in the sorted bigram array
    run_state = F.aggregate(
        F.array_sort(F.col("_bigrams")),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return (
        df.select(
            F.col(id_col),
            n.alias("n_tokens"),
            F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
            bigrams.alias("_bigrams"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_distinct_tokens",
            F.size("_bigrams").alias("n_bigrams"),
            # coalesce guards the <2-token edge: the oracle emits 0 there
            # (LEFT JOIN + COALESCE), and this must match even if the
            # bigram array were ever NULL instead of empty
            F.coalesce(run_state, F.lit(0)).alias("top_bigram_count"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_distinct_tokens",
            (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias(
                "distinct_token_ratio"
            ),
            "top_bigram_count",
            F.when(
                F.col("n_bigrams") > 0,
                F.col("top_bigram_count").cast("double") / F.col("n_bigrams"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_share"),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.05,
) -> DataFrame:
    """Benchmark-contamination check: for every training document, the
    fraction of its token ``n``-grams that appear anywhere in the eval
    set. The standard pretraining hygiene pass (eval n-gram overlap).

    Dataflow: explode the train side's distinct shingles (one row per
    doc-shingle), broadcast the eval side's distinct shingle set (eval
    benchmarks are small by construction — thousands of docs, not
    billions), left-join, re-aggregate per doc. One shuffle on the doc
    id; the join itself is broadcast, so no shuffle scales with the
    corpus. At extreme eval sizes swap the broadcast for a shuffle join
    on a shingle HASH (32-byte digests, not strings) — the string join
    here keeps the oracle byte-exact.
    """
    t = gram_rows(train, text_col, n, [id_col])
    e = gram_rows(eval_df, text_col, n, []).distinct().withColumn("_hit", F.lit(1))
    joined = t.join(F.broadcast(e), "gram", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated").cast("double") / F.col("n_shingles")).alias(
                "contamination_rate"
            ),
            (
                F.col("n_contaminated").cast("double") / F.col("n_shingles")
                >= threshold
            ).alias("is_contaminated"),
        )
    )


#: The function words the Gopher stopword rule requires (a doc must hit
#: ``min_stopword_kinds`` DISTINCT entries to pass). Rae et al. 2021 use
#: {the, be, to, of, and, that, have, with}; we keep the spirit with a
#: lexicon that overlaps the synthetic corpus vocabulary.
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "that")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_ratio: float = 0.80,
    max_symbol_ratio: float = 0.10,
    min_stopword_kinds: int = 2,
) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021, public):
    per-document feature values, one boolean verdict per rule, and the
    conjunction as ``keep``.

    Distinct from :func:`text_stats` (a weighted composite score): this
    is the *hard filter* — every rule is individually reportable, so a
    curation run can explain WHY a document was dropped and tune each
    threshold independently.

    Rules: word count in [min_words, max_words]; mean word length in
    [min_mean_len, max_mean_len]; fraction of words containing an
    alphabetic character >= min_alpha_ratio; '#'/'...'-symbol to word
    ratio <= max_symbol_ratio; >= min_stopword_kinds DISTINCT function
    words present.

    Dataflow: a single whole-stage-codegen projection — higher-order
    array functions only, zero shuffles, scales as one mapper pass at
    any corpus size.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    sum_lens = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    )
    mean_len = sum_lens.cast("double") / n_words
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = alpha_words.cast("double") / n_words
    n_symbols = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"#|\.\.\."), 0)
    )
    symbol_ratio = n_symbols.cast("double") / n_words
    stopword_kinds = F.size(
        F.array_intersect(
            F.transform(toks, F.lower), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    r_word_count = (n_words >= min_words) & (n_words <= max_words)
    r_mean_len = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    r_alpha = alpha_ratio >= min_alpha_ratio
    r_symbol = symbol_ratio <= max_symbol_ratio
    r_stopwords = stopword_kinds >= min_stopword_kinds
    return df.select(
        id_col,
        n_words.alias("n_words"),
        trino_round(mean_len, 4).alias("mean_word_len"),
        trino_round(alpha_ratio, 4).alias("alpha_word_ratio"),
        trino_round(symbol_ratio, 4).alias("symbol_word_ratio"),
        stopword_kinds.alias("stopword_kinds"),
        r_word_count.alias("r_word_count"),
        r_mean_len.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_ratio"),
        r_symbol.alias("r_symbol_ratio"),
        r_stopwords.alias("r_stopwords"),
        (r_word_count & r_mean_len & r_alpha & r_symbol & r_stopwords).alias("keep"),
    )


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_sentences: int = 3,
    min_words: int = 5,
) -> DataFrame:
    """C4-style heuristic cleaning gate (Raffel et al. 2020, public):
    per-document rule verdicts + the conjunction as ``keep``.

    Complements :func:`gopher_rules` (statistical thresholds) with C4's
    *structural* filters: terminal punctuation at the end, a minimum
    sentence count (terminal-punctuation marks as the proxy), minimum
    word count, and the three hard blocklist rules — "lorem ipsum"
    placeholder text, curly braces (code, not prose), and the word
    "javascript" (boilerplate warning banners).

    Dataflow: one whole-stage-codegen projection, zero shuffles — a
    single mapper pass at any corpus size, same as the Gopher gate.
    """
    text = F.col(text_col)
    lower = F.lower(text)
    n_sentences = F.length(F.regexp_replace(text, r"[^.!?]", ""))
    last_char = F.substring(F.rtrim(text), -1, 1)
    ends_terminal = last_char.isin(".", "!", "?", '"')
    n_words = F.size(tokens(text_col))
    has_lorem = lower.contains("lorem ipsum")
    has_brace = text.contains("{")
    has_javascript = lower.contains("javascript")
    r_terminal = ends_terminal
    r_sentences = n_sentences >= min_sentences
    r_words = n_words >= min_words
    r_lorem = ~has_lorem
    r_brace = ~has_brace
    r_javascript = ~has_javascript
    return df.select(
        id_col,
        n_sentences.cast("int").alias("n_sentences"),
        n_words.alias("n_words"),
        r_terminal.alias("r_ends_terminal"),
        r_sentences.alias("r_min_sentences"),
        r_words.alias("r_min_words"),
        r_lorem.alias("r_no_lorem"),
        r_brace.alias("r_no_brace"),
        r_javascript.alias("r_no_javascript"),
        (r_terminal & r_sentences & r_words & r_lorem & r_brace & r_javascript).alias(
            "keep"
        ),
    )


def corpus_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-source duplication audit: for every unordered pair of corpus
    sources, how many DISTINCT token ``n``-gram shingles they share, plus
    the Jaccard similarity of their shingle sets. The standard question
    before mixing crawls ("how much of source B is already in source A?").

    Dataflow: shingles are md5-hashed to 8-byte keys immediately (the
    shuffle carries longs, never ~60-byte strings), deduplicated per
    source, then self-joined on the hash. A shingle present in s of the
    S sources contributes C(s,2) pairs — bounded by C(S,2) per shingle,
    and S (number of sources) is small by definition, so the join cannot
    blow up the way a doc-level all-pairs would. The pair frame
    (C(S,2) rows) is built from a tiny distinct-source list and
    broadcast-joined, so every pair appears even with zero overlap.
    """
    # Fence the distinct (source, hash) table: four consumers read it
    # (both sides of the hash self-join and the per-source counts that
    # feed both sides of the pair frame), and Spark replans a self-join's
    # build side rather than reusing it — without the fence the
    # tokenize + shingle + md5 + distinct pipeline executes ~4x. The
    # fenced table is |distinct (source, shingle)| rows of (string,
    # long), the already-deduplicated index this audit is ABOUT.
    from .fencing import fence_if_small

    sh = fence_if_small(
        gram_rows(df, text_col, n, [F.col(group_col).alias("g")])
        .select("g", md5_long(F.col("gram")).alias("h"))
        .distinct()
    )
    per_source = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x.h") == F.col("y.h")) & (F.col("x.g") < F.col("y.g")))
        .groupBy(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    srcs = per_source.select(F.col("g"), F.col("n_shingles"))
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.g") < F.col("b.g"))
        .select(
            F.col("a.g").alias("source_a"),
            F.col("b.g").alias("source_b"),
            F.col("a.n_shingles").alias("n_a"),
            F.col("b.n_shingles").alias("n_b"),
        )
    )
    return (
        pairs.join(
            shared,
            (pairs.source_a == shared.ga) & (pairs.source_b == shared.gb),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("shared"), F.lit(0)).alias("shared"),
            trino_round(
                F.coalesce(F.col("shared"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("shared"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def tfidf_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf.

    score = (tf / doc_len) * ln(N / df). Ranking runs over the ROUNDED
    score (6 decimals, both engines) with a token-ascending tiebreak, so
    the kept set is deterministic across engines/partitionings even when
    distinct (tf, df) pairs produce near-equal doubles.

    Dataflow: explode tokens -> per-(doc, token) counts (one shuffle,
    map-side combined) -> document-frequency table from the same counts
    (second agg on token) -> join back on token -> per-doc ranking
    window. The df table is vocabulary-sized — orders smaller than the
    corpus — so the token join broadcast-qualifies for real vocabularies;
    AQE handles the hot-token skew otherwise. N (corpus size) rides a
    1-row broadcast cross join, never a driver collect.

    The tf table feeds FOUR consumers (scores, doc lengths, document
    frequencies, corpus size); Spark replays common subplans rather than
    sharing them, so without a fence the corpus would be scanned and
    token-shuffled four times. localCheckpoint materializes tf once —
    everything downstream aggregates the materialized counts.
    """
    toks_tbl = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    from .fencing import fence_if_small

    tf = fence_if_small(
        toks_tbl.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    doc_len = tf.groupBy(id_col).agg(F.sum("tf").alias("doc_len"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = tf.select(id_col).distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doc_len, id_col)
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            "df_docs",
            trino_round(
                (F.col("tf").cast("double") / F.col("doc_len"))
                * F.log(F.col("n_docs").cast("double") / F.col("df_docs")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", "token", "tf", "df_docs", "tfidf")
    )


def heavy_hitters(
    df: DataFrame, text_col: str = "text", top: int = 20
) -> DataFrame:
    """Corpus-wide most frequent tokens (exact heavy hitters).

    explode -> groupBy(token) with map-side partial aggregation (the
    shuffle carries one row per distinct token per task, not per token
    occurrence) -> TakeOrderedAndProject for the top slice. Deterministic
    tiebreak on the token itself.
    """
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(top)
    )


#: Base for the polynomial k-gram hash: any value above the max Unicode
#: code point keeps the polynomial injective per k-gram; 257 trades a
#: little injectivity on astral-plane text for headroom (5 base-257
#: digits of code points stay < 2^63 with no intermediate mod).
_POLY_BASE = 257


def winnowing_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer et al.): hash every character k-gram, slide a
    w-window over the position-hash sequence, keep each window's minimum;
    the distinct selected hashes are the document's fingerprint set.
    Guarantees any shared substring of length >= k+w-1 contributes a
    shared fingerprint — the local-similarity property plain min-k
    sketches lack.

    The k-gram hash is a polynomial over code points mixed through the
    affine family (integer ops on a pre-materialized code-point array),
    not md5-per-k-gram: the md5 version spent its whole budget on
    per-position string allocation + digest (11% of the round-1 bench
    on its own); the polynomial form is the same O(L·k) with a ~5x
    smaller constant and stays engine-reproducible (DuckDB computes the
    identical arithmetic).

    Expression-level notes: the code-point array and position hashes are
    materialized in their own projections (the CollapseProject fence —
    see operators.dedup) so each pipeline stage is computed once per
    row; the window min is a w-element slice over the materialized array
    (O(w) per position, w is small).
    """
    from .hashing import affine_long

    c = F.col(text_col)
    # explicit guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
    # returning empty like generate_series, so short texts need a branch
    codes = F.when(
        F.length(c) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.ascii(c.substr(i, F.lit(1))).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))

    def _kgram_hash(i: Column) -> Column:
        poly = F.element_at(F.col("_codes"), i)
        for j in range(1, k):
            poly = poly * _POLY_BASE + F.element_at(F.col("_codes"), i + j)
        return affine_long(poly, 0)

    pos_hashes = F.when(
        F.size("_codes") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("_codes") - (k - 1)),
            _kgram_hash,
        ),
    ).otherwise(F.array().cast("array<long>"))
    bh = F.col("_ph")
    p = F.size(bh)
    minima = (
        F.when(
            p >= window,
            F.transform(
                F.sequence(F.lit(1), p - (window - 1)),
                lambda j: F.array_min(F.slice(bh, j, window)),
            ),
        )
        .when(p > 0, F.array(F.array_min(bh)))
        .otherwise(F.array().cast("array<long>"))
    )
    # materialize `selected` in its own projection: it feeds both
    # n_selected and the digest, and a non-cheap expression referenced
    # twice in one select is evaluated twice (CollapseProject only fences
    # across selects, not within one)
    selected = F.array_sort(F.array_distinct(minima))
    return (
        df.select(F.col(id_col), codes.alias("_codes"))
        .select(F.col(id_col), pos_hashes.alias("_ph"))
        .select(F.col(id_col), F.size("_ph").alias("n_kgrams"), selected.alias("_sel"))
        .select(
            F.col(id_col),
            "n_kgrams",
            F.size("_sel").alias("n_selected"),
            F.md5(
                F.array_join(F.transform(F.col("_sel"), lambda h: h.cast("string")), "-")
            ).alias("winnow_fingerprint"),
        )
    )


#: Default PII patterns: (name, regex, replacement token). The regexes
#: restrict themselves to syntax with identical semantics in Java regex
#: (Spark) and RE2 (DuckDB oracle): character classes, bounded repeats,
#: and ASCII \b word boundaries — no lookarounds, no backreferences.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Regex PII redaction with per-document, per-pattern counts.

    The standard pre-training scrub stage: emails, phone numbers, and
    IPv4 addresses are replaced by typed tokens, and each document
    reports how many redactions of each kind it received, so downstream
    filters can drop high-PII documents outright.

    Semantics (deterministic, oracle-matched):

    - counts (``n_<name>``) are the number of matches of each pattern in
      the ORIGINAL text, computed independently per pattern;
    - ``scrubbed_text`` applies the replacements sequentially in
      ``patterns`` order (email -> phone -> ipv4 by default), so an
      earlier replacement can hide text from a later pattern. Patterns
      whose matches can overlap should be ordered most-specific first.

    Scale: pure per-row Catalyst expressions (``regexp_count`` /
    ``regexp_replace``) — JVM-side, whole-stage codegen, zero shuffles;
    at 100 TB this is one mapper pass fused into the document scan.
    """
    scrubbed = F.col(text_col)
    counts = []
    for name, pat, repl in patterns:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    total = sum(
        (F.col(f"n_{name}") for name, _pat, _repl in patterns[1:]),
        F.col(f"n_{patterns[0][0]}"),
    )
    passthrough = [c for c in df.columns if c != text_col]
    return df.select(*passthrough, *counts, scrubbed.alias("scrubbed_text")).withColumn(
        "n_redactions", total
    )


def rarity_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_max_count: int = 2,
) -> DataFrame:
    """Corpus-relative token rarity per document — the gibberish /
    OCR-noise signal: a high share of tokens that are globally rare
    (corpus count <= ``rare_max_count``) marks low-quality text.

    Same plan family as tf-idf: one map-side-combined token count, the
    vocabulary joined back to the exploded tokens (shuffles on token —
    nothing scales with docs x vocab), one rollup per doc. Every score
    is a ratio of INTEGER aggregates, so results are bit-exact across
    engines and partitionings — no log/float-summation drift.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    rare = F.when(F.col("cnt") <= rare_max_count, F.lit(1)).otherwise(F.lit(0))
    return (
        toks.join(counts, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(rare).alias("n_rare"),
            F.sum("cnt").alias("_total_cnt"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_rare",
            (F.col("n_rare").cast("double") / F.col("n_tokens")).alias("rare_ratio"),
            (F.col("_total_cnt").cast("double") / F.col("n_tokens")).alias(
                "mean_token_df"
            ),
        )
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations (adjacent word pairs that co-occur far more
    than chance) ranked by association lift — the corpus-analysis pass
    behind phrase mining / tokenizer-merge candidates / boilerplate
    discovery. ``lift = P(w1,w2) / (P(w1) * P(w2))``; PMI is
    ``log2(lift)``, and ranking by lift IS ranking by PMI (log is
    monotone) while staying in exact-integer-count arithmetic — no
    engine-specific ``log`` in the comparable output.

    Shape: one token explode feeds BOTH count tables (bigrams via a
    slice/zip of the same token array, unigrams via explode), each a
    map-side-combined groupBy; corpus totals are two scalar aggregates
    broadcast back in (1-row cross joins); the bigram->unigram joins
    shuffle vocabulary-sized tables, never the corpus. The lift
    arithmetic is a fixed double expression over exact counts, so it is
    bit-reproducible across engines. Deterministic ``(lift desc, w1,
    w2)`` top-k via TakeOrdered.
    """
    toks = tokens(F.col(text_col))
    t = df.select(toks.alias("_t")).filter(F.size("_t") >= 2)
    big = t.select(
        F.explode(
            F.zip_with(
                F.slice("_t", 1, F.size("_t") - 1),
                F.slice("_t", 2, F.size("_t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_b")
    ).select("_b.w1", "_b.w2")
    uni = df.select(F.explode(toks).alias("w"))
    big_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c_w"))
    n_big = big.agg(F.count(F.lit(1)).alias("n_big"))
    n_uni = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    lift = (
        F.col("c_big").cast("double") / F.col("n_big").cast("double")
    ) / (
        (F.col("c_w1").cast("double") / F.col("n_uni").cast("double"))
        * (F.col("c_w2").cast("double") / F.col("n_uni").cast("double"))
    )
    scored = (
        big_counts.filter(F.col("c_big") >= min_count)
        .join(
            uni_counts.select(F.col("w").alias("w1"), F.col("c_w").alias("c_w1")),
            on="w1",
        )
        .join(
            uni_counts.select(F.col("w").alias("w2"), F.col("c_w").alias("c_w2")),
            on="w2",
        )
        .join(F.broadcast(n_big))
        .join(F.broadcast(n_uni))
        .select(
            "w1",
            "w2",
            "c_big",
            F.round(lift, 6).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), "w1", "w2").limit(k)


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval: top-``k`` documents for a fixed bag of
    query terms (Robertson/Sparck-Jones idf, Lucene's +1 shift so idf
    stays positive).

    Scale shape: because the query is a handful of terms, per-doc term
    frequencies are computed ROW-LOCALLY with array ``filter``/``size``
    over the token array — no token explode, no corpus-wide shuffle, no
    inverted index. The only aggregates are one corpus-stats row
    (n_docs, total_len, per-term document frequencies) broadcast back
    via a 1-row cross join, then a TakeOrdered top-k. At 100 TB this is
    a single mapper pass + O(|query|) scalars on the driver-free path.

    Determinism: each term's contribution is rounded to 8 decimals and
    decimal-fenced before the (fixed-order) sum across query terms, so
    the score is bit-identical across engines and partitionings; final
    ordering breaks ties on doc_id.
    """
    toks = tokens(F.col(text_col))
    def _is_term(term: str):
        # NB: keep the lambda unary — F.filter treats a 2-arg lambda as
        # (element, index), which would silently compare against positions.
        return lambda x: x == F.lit(term)

    tf_cols = [
        F.size(F.filter(F.col("_t"), _is_term(t))).alias(f"tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = df.select(F.col(id_col), toks.alias("_t")).select(
        id_col, F.size("_t").alias("dl"), *tf_cols
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)

    def contrib(i: int) -> Column:
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        return trino_round(idf * tf * F.lit(k1 + 1.0) / (tf + norm), 8).cast(
            "decimal(28,8)"
        )

    score_dec = contrib(0)
    for i in range(1, len(query_terms)):
        score_dec = score_dec + contrib(i)
    matched = (F.col("tf_0") > 0).cast("long")
    for i in range(1, len(query_terms)):
        matched = matched + (F.col(f"tf_{i}") > 0).cast("long")
    scored = per_doc.join(F.broadcast(stats)).select(
        id_col,
        F.col("dl").cast("long").alias("doc_len"),
        matched.alias("n_match"),
        trino_round(score_dec.cast("double"), 6).alias("bm25"),
    )
    return (
        scored.filter(F.col("n_match") > 0)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def lm_surprisal_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram language-model surprisal — the classic
    LM-based quality filter (docs whose tokens are improbable under the
    corpus distribution are OCR noise / gibberish; docs that are too
    probable are boilerplate).

    ``nll(t) = -ln(count(t) / total_tokens)`` under the corpus MLE
    unigram model; emits per-doc token count, mean and max surprisal
    (nats). Dataflow mirrors ``rarity_stats``: one token explode into a
    map-side-combined vocabulary count (the only corpus-wide shuffle,
    vocabulary-sized output), corpus total as a 1-row broadcast, then a
    broadcast join back onto the token stream and a per-doc rollup.

    Per-token surprisals are rounded to 8 decimals and summed as exact
    decimals (associative — partition-order-proof); the mean divides at
    the end and rounds to 6.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    from .fencing import fence_if_small

    vocab = fence_if_small(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = vocab.agg(F.sum("cnt").alias("total_tokens"))
    nll = trino_round(
        -F.log(F.col("cnt").cast("double") / F.col("total_tokens").cast("double")), 8
    )
    return (
        tok.join(F.broadcast(vocab), "token")
        .join(F.broadcast(total))
        .select(F.col(id_col), nll.alias("nll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            trino_round(
                F.sum(F.col("nll").cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_nll"),
            F.max("nll").alias("max_nll"),
        )
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus Zipf-law fit: least-squares slope/intercept of
    ``ln(frequency) ~ intercept + slope * ln(rank)`` over the vocabulary
    — the classic corpus-health statistic (natural text slopes ≈ −1;
    OCR noise flattens the tail, template spam steepens the head).

    One token explode into a map-side-combined vocabulary count (the
    only corpus-sized shuffle), then the Mann-Whitney MIDRANK trick
    (VERDICT r13 #5) instead of a global sort: rank(term) = (# terms
    with strictly greater cnt) + (# same-cnt terms in earlier hash
    buckets) + row_number within the term's (cnt, bucket) partition.
    Both offset tables are bounded aggregates (|distinct cnts| and
    |distinct cnts| x n_buckets rows — counts are heavy-tailed, so
    distinct cnt cardinality is ~sqrt(total) at worst) joined by
    broadcast; the ONLY window partitions by (cnt, bucket), so no
    stage sorts the vocabulary in one task and the cnt=1 half of the
    vocabulary spreads across buckets. Which same-cnt term gets which
    rank of the tie block differs from the (cnt desc, token) total
    order, but the OUTPUT is invariant: y = ln(cnt) is constant
    within a tie block and the block's rank multiset is fixed, so
    every moment sum — including the per-row round8 products — is
    identical addend-for-addend to the sorted form's.

    Per-term ``ln`` values are rounded to 8 decimals and all five
    moment sums accumulate in exact decimal (associative), so the
    closed-form regression arithmetic runs on bit-identical inputs in
    any engine. Output: one row (n_vocab, total_tokens, slope,
    intercept).
    """
    sc = df.sparkSession.sparkContext
    n_buckets = max(64, 2 * sc.defaultParallelism)
    # localCheckpoint (the lm_surprisal precedent): vocab feeds BOTH the
    # offset tables and the rank join — without the fence the corpus is
    # tokenized twice (measured 1.32 s vs 0.86 s at sf0.1); the
    # checkpoint is vocabulary-sized, not corpus-sized
    from .fencing import fence_if_small

    vocab = fence_if_small(
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_bkt", F.pmod(F.xxhash64("token"), F.lit(n_buckets)))
    )
    btab = vocab.groupBy("cnt", "_bkt").agg(F.count(F.lit(1)).alias("_n"))
    cnt_tab = btab.groupBy("cnt").agg(F.sum("_n").alias("_n_at"))
    # terms with strictly greater cnt: bounded range self-join, not a window
    cnt_off = (
        cnt_tab.alias("a")
        .join(
            F.broadcast(cnt_tab.alias("b")),
            F.col("b.cnt") > F.col("a.cnt"),
            "left",
        )
        .groupBy(F.col("a.cnt").alias("cnt"))
        .agg(F.coalesce(F.sum("b._n_at"), F.lit(0)).alias("_coff"))
    )
    # same-cnt terms in earlier buckets: bounded self-join within cnt
    bkt_off = (
        btab.alias("a")
        .join(
            F.broadcast(btab.alias("b")),
            (F.col("b.cnt") == F.col("a.cnt"))
            & (F.col("b._bkt") < F.col("a._bkt")),
            "left",
        )
        .groupBy(
            F.col("a.cnt").alias("cnt"), F.col("a._bkt").alias("_bkt")
        )
        .agg(F.coalesce(F.sum("b._n"), F.lit(0)).alias("_boff"))
    )
    wrn = Window.partitionBy("cnt", "_bkt").orderBy("token")
    ranked = (
        vocab.join(F.broadcast(cnt_off), "cnt")
        .join(F.broadcast(bkt_off), ["cnt", "_bkt"])
        .select(
            "cnt",
            (
                F.col("_coff") + F.col("_boff") + F.row_number().over(wrn)
            ).cast("long").alias("rank"),
        )
    )
    x = trino_round(F.log(F.col("rank").cast("double")), 8)
    y = trino_round(F.log(F.col("cnt").cast("double")), 8)
    pts = ranked.select(
        F.col("cnt"),
        x.alias("x"),
        y.alias("y"),
        trino_round(x * y, 8).alias("xy"),
        trino_round(x * x, 8).alias("x2"),
    )

    def dec(c: str) -> Column:
        return F.sum(F.col(c).cast("decimal(28,8)")).cast("double")

    sums = pts.agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("cnt").alias("total_tokens"),
        dec("x").alias("sx"),
        dec("y").alias("sy"),
        dec("xy").alias("sxy"),
        dec("x2").alias("sx2"),
    )
    n = F.col("n_vocab").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sx2") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "n_vocab",
        "total_tokens",
        trino_round(slope, 6).alias("zipf_slope"),
        trino_round(
            (F.col("sy") - slope * F.col("sx")) / n, 6
        ).alias("zipf_intercept"),
    )


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram-LM surprisal per document, with the LM trained on the
    corpus itself in the same job: ``nll(w1 w2) = -ln(c(w1,w2)/c(w1))``
    (MLE conditionals — every scored bigram exists in the corpus by
    construction, so no smoothing mass is needed). The mean bigram
    surprisal upgrades the unigram filter (:func:`lm_surprisal_stats`):
    word-salad scores near the unigram entropy, natural text much
    lower — the gap IS the model's information gain.

    Dataflow: ONE bigram stream (row-local slice/zip of the token
    array) feeds both the count model (map-side-combined groupBy —
    bigram-vocabulary-sized, quadratic in vocab not corpus) and the
    scoring pass; unigram context counts ride a second vocab-sized agg.
    Scoring joins are on (w1, w2)/(w1) — shuffle joins sized by the
    bigram stream, AQE handles hot-bigram skew (a broadcast would not
    hold a 100 TB corpus's bigram table). Per-pair round8 surprisal,
    exact decimal per-doc sums.
    """
    toks = tokens(F.col(text_col))
    t = df.select(F.col(id_col), toks.alias("_t")).filter(F.size("_t") >= 2)
    pairs = t.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("_t", 1, F.size("_t") - 1),
                F.slice("_t", 2, F.size("_t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_b"),
    ).select(id_col, "_b.w1", "_b.w2")
    from .fencing import fence_if_small

    big_counts = fence_if_small(
        pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    )
    ctx_counts = big_counts.groupBy("w1").agg(F.sum("c_big").alias("c_ctx"))
    nll = trino_round(
        -F.log(F.col("c_big").cast("double") / F.col("c_ctx").cast("double")), 8
    )
    return (
        pairs.join(big_counts, ["w1", "w2"])
        .join(ctx_counts, "w1")
        .select(F.col(id_col), nll.alias("nll"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            trino_round(
                F.sum(F.col("nll").cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_nll_bigram"),
        )
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    boilerplate_min_docs: int | None = None,
) -> DataFrame:
    """C4-style line-level cleaning:

    1. WITHIN each document, duplicate lines collapse to their first
       occurrence (``array_distinct`` is order-preserving) — row-local,
       rides the scan.
    2. Optionally ACROSS the corpus: lines appearing in at least
       ``boilerplate_min_docs`` distinct documents are removed entirely
       (navigation chrome, cookie banners, license headers). One
       line-digest explode + map-side-combined doc-frequency count;
       only the boilerplate digest set (small by construction — high-df
       lines are few) broadcasts back, the corpus never shuffles.

    Output: (id, text) with lines rejoined in original order, plus
    per-doc removal counters. Reassembly keeps each surviving line's
    first-occurrence index and sorts the (index, line) structs —
    order-exact without a window.
    """
    lines = F.split(F.col(text_col), F.lit(sep), -1)
    deduped = F.array_distinct(lines)
    base = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines_raw"),
        deduped.alias("_lines"),
    )
    if boilerplate_min_docs is None:
        return base.select(
            id_col,
            F.array_join("_lines", sep).alias(text_col),
            "n_lines_raw",
            F.size("_lines").alias("n_lines_kept"),
        )
    digests = df.select(
        F.col(id_col), F.explode(deduped).alias("_line")
    ).select(md5_long(F.col("_line")).alias("_lh"))
    boiler = (
        digests.groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= boilerplate_min_docs)
        .select("_lh")
    )
    boiler_set = F.broadcast(
        boiler.agg(F.collect_set("_lh").alias("_bset"))
    )
    kept = F.filter(
        F.col("_lines"),
        lambda x: ~F.array_contains(F.col("_bset"), md5_long(x)),
    )
    return (
        base.join(boiler_set)
        .select(
            id_col,
            "n_lines_raw",
            kept.alias("_kept"),
        )
        .select(
            id_col,
            F.array_join("_kept", sep).alias(text_col),
            "n_lines_raw",
            F.size("_kept").alias("n_lines_kept"),
        )
    )


def corpus_novelty(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Marginal-novelty audit: process sources in lexicographic order and
    charge each distinct shingle to the FIRST source containing it; a
    source's novelty rate is the fraction of its shingles no earlier
    source already had — the "what does adding this crawl actually buy"
    number behind data-recipe decisions.

    Same hashed-shingle dataflow as ``corpus_overlap`` (md5 longs
    before any shuffle, distinct per source), plus one groupBy on the
    shingle hash to elect the min-source owner — shuffle volume is the
    distinct (source, shingle) table, never pairwise. Output:
    ``source, n_shingles, n_novel, novelty_rate``.
    """
    sh = (
        gram_rows(df, text_col, n, [F.col(group_col).alias("g")])
        .select("g", md5_long(F.col("gram")).alias("h"))
        .distinct()
    )
    # consumed by BOTH the owner election and the per-source census —
    # without a fence each consumer re-runs the tokenize+md5+distinct
    # pipeline (size-guarded: corpus-sized-thin, same class as
    # corpus_overlap's shingle index; r19 interleaved A/B on
    # corpus_novelty: 1.46 -> 1.32 s min, values equal)
    from .fencing import fence_if_small

    sh = fence_if_small(sh)
    owners = sh.groupBy("h").agg(F.min("g").alias("g"))
    novel = owners.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    per = sh.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    return per.join(novel, "g", "left").select(
        F.col("g").alias("source"),
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        trino_round(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles"),
            6,
        ).alias("novelty_rate"),
    )


def rake_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: tuple[str, ...] = GOPHER_STOPWORDS,
    k: int = 20,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public): candidate
    phrases are the maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ lengths of phrases containing it,
    frequency = its occurrence count across phrases) and a phrase
    scores the sum of its member-word scores — the classic
    corpus-level keyphrase surfacing pass, no model needed.

    Plan shape: one posexplode pass; phrase segmentation is a running
    stopword count windowed PER DOCUMENT (bounded by doc length, no
    global sort); word statistics are one grouped aggregate of the
    phrase-occurrence stream; scores join back over the
    distinct-phrase table (vocabulary-bounded). Word scores are
    round8-fenced IEEE divisions of exact integers; phrase scores are
    decimal-fenced sums; the top-k is a TakeOrderedAndProject with a
    lexicographic tiebreak.

    Output: ``phrase, n_words, n_occurrences, score`` (round6) — k
    rows by (score DESC, phrase).
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("_pos", "_tok"),
    ).filter(F.col("_tok") != "")
    is_stop = F.col("_tok").isin(*stopwords)
    w = Window.partitionBy("_id").orderBy("_pos")
    seg = toks.select(
        "_id",
        "_pos",
        "_tok",
        F.sum(F.when(is_stop, 1).otherwise(0)).over(w).alias("_pid"),
        is_stop.alias("_stop"),
    ).filter(~F.col("_stop"))
    occ = (
        seg.groupBy("_id", "_pid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_pos", "_tok"))
            ).alias("_ws")
        )
        .select(
            F.concat_ws(
                " ", F.transform("_ws", lambda s: s["_tok"])
            ).alias("phrase"),
            F.size("_ws").alias("_len"),
        )
    )
    word_stats = (
        occ.select(F.explode(F.split("phrase", " ")).alias("_w"), "_len")
        .groupBy("_w")
        .agg(
            F.count(F.lit(1)).alias("_freq"),
            F.sum("_len").alias("_deg"),
        )
        .select(
            "_w",
            trino_round(
                F.col("_deg").cast("double") / F.col("_freq").cast("double"),
                8,
            ).alias("_wscore"),
        )
    )
    phrases = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.max("_len").cast("bigint").alias("n_words"),
    )
    scored = (
        phrases.select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("_w"),
        )
        .join(word_stats, "_w")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(
            trino_round(
                F.sum(F.col("_wscore").cast("decimal(28,8)")).cast("double"),
                6,
            ).alias("score")
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("phrase")).limit(k)
