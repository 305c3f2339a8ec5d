"""Unit tests for the round-2 text/session/sampling extension operators,
on crafted fixtures where the expected answer is computable by hand."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from lakehouse_platform_nyc_taxi_spark.operators.sampling import (
    hash_bucket,
    stratified_resample,
)
from lakehouse_platform_nyc_taxi_spark.operators.sessionize import sessionize
from lakehouse_platform_nyc_taxi_spark.operators import text
from lakehouse_platform_nyc_taxi_spark.operators.text import (
    decontaminate,
    gram_rows,
    heavy_hitters,
    repetition_stats,
    tfidf_topk,
    tokens,
    word_ngrams,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_stats_degenerate_vs_diverse(spark):
    df = _docs(
        spark,
        [
            (1, "a b a b a b a b"),  # bigram 'a b' occurs 4x of 7 bigrams
            (2, "one two three four five six seven eight"),  # all unique
            (3, "solo"),  # no bigrams
        ],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_tokens"] == 8
    assert out[1]["n_distinct_tokens"] == 2
    assert out[1]["top_bigram_count"] == 4  # 'a b' at positions 1,3,5,7
    assert out[1]["top_bigram_share"] == 4 / 7
    assert out[2]["top_bigram_count"] == 1
    assert out[2]["distinct_token_ratio"] == 1.0
    assert out[3]["top_bigram_count"] == 0
    assert out[3]["top_bigram_share"] == 0.0


def test_shingles_distinct_and_short_doc_guard(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d e"),
            (2, "x y"),
            (3, "  p \t q   r\n s  "),  # whitespace runs, leading and trailing
            (4, "a b c a b c a b"),  # repeated grams
            (5, "u v w"),  # exactly n tokens
        ],
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", tokens("text").alias("_toks"))
        .select("doc_id", word_ngrams(F.col("_toks"), 3).alias("g"))
        .collect()
    }
    assert out[1] == ["a b c", "b c d", "c d e"]
    assert out[2] == []  # shorter than n -> empty, not [1, 0]-style garbage
    assert out[3] == ["p q r", "q r s"]
    assert out[4] == ["a b c", "b c a", "c a b"]  # distinct, first-occurrence order
    assert out[5] == ["u v w"]
    # gram_rows is the same grams exploded; doc 2 yields no row, not a
    # NULL-gram row
    rows = gram_rows(df, "text", 3, ["doc_id", F.col("doc_id").alias("d")])
    assert rows.columns == ["doc_id", "d", "gram"]
    assert sorted((r["doc_id"], r["d"], r["gram"]) for r in rows.collect()) == sorted(
        (i, i, g) for i, gs in out.items() for g in gs
    )


def test_decontaminate_flags_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains eval gram
            (2, "completely different words with zero overlap here now"),
        ],
    )
    eval_df = _docs(spark, [(100, "quick brown fox jumps")])
    out = {
        r["doc_id"]: r
        for r in decontaminate(train, eval_df, n=4, threshold=0.1).collect()
    }
    assert out[1]["n_contaminated"] == 1  # 'quick brown fox jumps'
    assert out[1]["is_contaminated"]
    assert out[2]["n_contaminated"] == 0
    assert not out[2]["is_contaminated"]


def test_tfidf_ranks_rare_terms_above_ubiquitous(spark):
    df = _docs(
        spark,
        [
            (1, "common common rare1"),
            (2, "common common rare2"),
            (3, "common common rare3"),
        ],
    )
    out = tfidf_topk(df, k=1).collect()
    by_doc = {r["doc_id"]: r for r in out}
    # 'common' appears in every doc -> idf 0; the rare term must win
    assert by_doc[1]["token"] == "rare1"
    assert by_doc[2]["token"] == "rare2"
    assert by_doc[3]["token"] == "rare3"
    assert all(r["rk"] == 1 for r in out)


def test_heavy_hitters_order_and_tiebreak(spark):
    df = _docs(spark, [(1, "b b b a a c"), (2, "a c")])
    out = [(r["token"], r["n_occurrences"]) for r in heavy_hitters(df, top=3).collect()]
    assert out == [("a", 3), ("b", 3), ("c", 2)]  # count desc, token asc


def test_sessionize_gap_boundary_and_rollup(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes, micros=0):
        return t0 + datetime.timedelta(minutes=minutes, microseconds=micros)

    rows = [
        # user 7: events at 0, 30min (exactly gap -> same session), then
        # 30min + 1us past the gap -> new session
        (1, ts(0), 7, 1.0),
        (2, ts(30), 7, 2.0),
        (3, ts(90, 1), 7, 4.0),
        # user 8: single event
        (4, ts(5), 8, 8.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )
    out = {
        (r["user_id"], r["session_idx"]): r
        for r in sessionize(df, gap_minutes=30).collect()
    }
    s1 = out[(7, 1)]
    assert s1["n_events"] == 2  # the exactly-30min event extends the session
    assert s1["total_value"] == 3.0
    assert s1["duration_s"] == 30 * 60
    s2 = out[(7, 2)]
    assert s2["n_events"] == 1
    assert s2["duration_s"] == 0
    assert out[(8, 1)]["n_events"] == 1


def test_stratified_resample_deterministic_and_thresholded(spark):
    rows = [(i, "keep" if i % 2 else "down") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = stratified_resample(df, "source", {"down": 0.1}, "doc_id")
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in kept.collect())
    assert a == b  # deterministic
    by_src = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_src["keep"] == 100  # default rate 1.0 keeps everything
    assert 0 < by_src.get("down", 0) < 35  # ~10% of 100, hash noise allowed
    # membership matches the hash threshold exactly
    expected = {
        r["doc_id"]
        for r in df.select(
            "doc_id", "source", hash_bucket(F.col("doc_id"), "mix").alias("b")
        ).collect()
        if r["source"] == "keep" or r["b"] < 1000
    }
    assert set(a) == expected


def test_pii_scrub_counts_and_replacements(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e.org, call 555-123-4567 from 10.0.0.1"),
            (2, "no pii here at all"),
            (3, "ip 192.168.1.255 twice 192.168.1.255"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in text.pii_scrub(df).collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (2, 1, 1)
    assert got[1].n_redactions == 4
    assert got[1].scrubbed_text == (
        "mail <EMAIL> and <EMAIL>, call <PHONE> from <IP>"
    )
    assert got[2].n_redactions == 0 and got[2].scrubbed_text == "no pii here at all"
    assert (got[3].n_ipv4, got[3].scrubbed_text) == (2, "ip <IP> twice <IP>")
    assert got[4].n_redactions == 0 and got[4].scrubbed_text == ""


def test_zipf_fit_recovers_planted_power_law(spark):
    """A corpus whose token frequencies follow freq(r) = C * r^s must
    come back with slope ≈ s from the regression."""
    import math

    from lakehouse_platform_nyc_taxi_spark.operators.text import zipf_fit

    s_true = -1.0
    words = []
    for r in range(1, 41):
        freq = max(1, round(2000 * (r ** s_true)))
        words += [f"w{r:03d}"] * freq
    # one doc per 100 words keeps rows realistic
    docs = [
        (i, " ".join(words[i * 100 : (i + 1) * 100]))
        for i in range((len(words) + 99) // 100)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    row = zipf_fit(df).first()
    assert row.n_vocab == 40
    assert abs(row.zipf_slope - s_true) < 0.12, row.zipf_slope
    # intercept ~ ln(2000)
    assert abs(row.zipf_intercept - math.log(2000)) < 0.35, row.zipf_intercept


def test_dedup_lines_within_and_boilerplate(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.text import dedup_lines

    rows = [
        (1, "intro\ncookie banner\nbody one\nbody one\noutro"),
        (2, "cookie banner\nbody two\noutro"),
        (3, "cookie banner\nunique text\noutro"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    within = {r.doc_id: r for r in dedup_lines(df).collect()}
    assert within[1].text == "intro\ncookie banner\nbody one\noutro"
    assert within[1].n_lines_raw == 5 and within[1].n_lines_kept == 4
    assert within[2].text == rows[1][1]  # nothing duplicated within

    # cross-doc: lines in >= 3 docs are boilerplate ('cookie banner',
    # 'outro'); per-doc unique bodies survive in original order
    cleaned = {r.doc_id: r for r in dedup_lines(df, boilerplate_min_docs=3).collect()}
    assert cleaned[1].text == "intro\nbody one"
    assert cleaned[2].text == "body two"
    assert cleaned[3].text == "unique text"
    assert cleaned[3].n_lines_kept == 1


def test_gopher_rules_verdicts_and_keep(spark):
    long_good = "the quick brown fox jumps over a lazy dog " * 5  # 45 words
    short = "the a tiny doc"
    no_stops = "lorem ipsum dolor sit amet " * 8  # 40 words, 1 stopword kind? none
    df = _docs(
        spark,
        [
            (1, long_good.strip()),
            (2, short),
            (3, no_stops.strip()),
        ],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in text.gopher_rules(df, min_words=30).collect()
    }
    assert out[1]["keep"] and out[1]["r_word_count"] and out[1]["r_stopwords"]
    assert out[1]["n_words"] == 45
    # short doc fails the word-count (and mean-len) rules while the
    # others stay individually reportable as passes:
    assert not out[2]["keep"] and not out[2]["r_word_count"]
    assert out[2]["r_stopwords"] and out[2]["r_alpha_ratio"]
    # stopword-free doc passes the count rule but fails the stopword floor:
    assert not out[3]["keep"] and out[3]["r_word_count"]
    assert not out[3]["r_stopwords"] and out[3]["stopword_kinds"] == 0


def test_c4_rules_verdicts_and_keep(spark):
    good = "This is a fine document. It has several sentences. It ends well."
    no_terminal = "this one just trails off into nothing"
    lorem = "Lorem ipsum dolor sit amet. Filler text here. More filler."
    code = 'function f() { return 1; } Done. Yes. Sure.'
    js = "Please enable JavaScript to view this page. Thanks. Bye."
    df = _docs(
        spark,
        [(1, good), (2, no_terminal), (3, lorem), (4, code), (5, js)],
    )
    out = {r["doc_id"]: r.asDict() for r in text.c4_rules(df).collect()}
    assert out[1]["keep"] and out[1]["n_sentences"] == 3 and out[1]["r_ends_terminal"]
    assert not out[2]["keep"] and not out[2]["r_ends_terminal"]
    assert not out[2]["r_min_sentences"] and out[2]["n_sentences"] == 0
    assert not out[3]["keep"] and not out[3]["r_no_lorem"] and out[3]["r_ends_terminal"]
    assert not out[4]["keep"] and not out[4]["r_no_brace"]
    assert not out[5]["keep"] and not out[5]["r_no_javascript"] and out[5]["r_no_brace"]


def test_gopher_symbol_and_mean_len_rules(spark):
    hashy = " ".join(["#tag"] * 40)  # symbol ratio 1.0 -> fails
    tiny_words = " ".join(["a b"] * 20) + " the of"  # mean len ~1 -> fails
    df = _docs(spark, [(1, hashy), (2, tiny_words)])
    out = {r["doc_id"]: r.asDict() for r in text.gopher_rules(df).collect()}
    assert not out[1]["r_symbol_ratio"] and out[1]["symbol_word_ratio"] == 1.0
    assert not out[2]["r_mean_word_len"] and out[2]["mean_word_len"] < 2.0


def test_corpus_overlap_shared_and_disjoint(spark):
    block = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly one 8-shingle
    other = "x1 x2 x3 x4 x5 x6 x7 x8"
    df = spark.createDataFrame(
        [
            ("sa", block),
            ("sb", block + " w9"),  # shares shingle(w1..w8), adds one more
            ("sc", other),
        ],
        "source string, text string",
    )
    from lakehouse_platform_nyc_taxi_spark.operators.text import corpus_overlap

    out = {
        (r["source_a"], r["source_b"]): r.asDict()
        for r in corpus_overlap(df, group_col="source").collect()
    }
    ab = out[("sa", "sb")]
    assert ab["n_a"] == 1 and ab["n_b"] == 2 and ab["shared"] == 1
    assert abs(ab["jaccard"] - 0.5) < 1e-9
    # disjoint pairs still emitted, with zero overlap:
    assert out[("sa", "sc")]["shared"] == 0
    assert out[("sa", "sc")]["jaccard"] == 0.0
    assert len(out) == 3


def test_corpus_novelty_first_source_owns_shared_shingles(spark):
    from lakehouse_platform_nyc_taxi_spark.operators.text import corpus_novelty

    base = "one two three four five six seven eight nine ten"
    rows = [
        (1, "a", base),                      # first source: all novel
        (2, "b", base),                      # pure repeat of a: 0 novel
        (3, "c", base + " eleven twelve"),   # 2 new trailing shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r.asDict() for r in corpus_novelty(df).collect()}
    assert out["a"]["novelty_rate"] == 1.0
    assert out["b"]["n_novel"] == 0 and out["b"]["novelty_rate"] == 0.0
    # c shares the 3 shingles of the base text and adds 2 sliding ones
    assert out["c"]["n_novel"] == 2
    assert out["c"]["n_shingles"] == 5


def test_rake_keywords_hand_computed(spark):
    """Doc 'red fox the red fox jumps': phrases 'red fox' and
    'red fox jumps'. freq(red)=2 deg(red)=2+3=5 -> wscore 2.5; fox
    same; jumps 3/1=3. score('red fox') = 5.0; 'red fox jumps' = 8.0."""
    from lakehouse_platform_nyc_taxi_spark.operators.text import rake_keywords

    df = spark.createDataFrame(
        [(1, "red fox the red fox jumps")], "doc_id long, text string"
    )
    out = {r.phrase: r for r in rake_keywords(df, k=10).collect()}
    assert set(out) == {"red fox", "red fox jumps"}
    assert out["red fox"].score == 5.0
    assert out["red fox jumps"].score == 8.0
    assert out["red fox"].n_occurrences == 1
    assert out["red fox jumps"].n_occurrences == 1
    assert out["red fox jumps"].n_words == 3
    # stopword-only doc yields nothing; ranking is score desc
    ranked = rake_keywords(df, k=1).collect()
    assert ranked[0].phrase == "red fox jumps"
