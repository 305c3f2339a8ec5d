"""LLM-training-data pipeline queries: dedup, similarity search, text
analysis, multimodal — each as a driver-contract query with a DuckDB
oracle (except the Pandas-UDF feature extractor, which is genuinely
non-SQL-expressible and gets the rows-only check).

Oracle construction notes:
- all content hashing is md5-based (operators.hashing), rendered in
  DuckDB as ``('0x' || substr(md5(x),1,15))::BIGINT``;
- cosine scores are rounded to 6 decimals on both sides (the decimal-sum
  trick does not apply to sqrt/division chains; rounding absorbs
  fold-order last-bit noise);
- thresshold filters compare unrounded values in both engines so the
  kept-pair set is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.trino import trino_round
from ..operators import dedup, multimodal, similarity, text
from ..sources.testdata import load_table, load_table_parallel
from . import register, session_artifact

MD5L = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
TOKS = "string_split_regex(trim(text), '\\s+')"


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_duplicates
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on the normalized-content digest; the "
    "shuffle carries 32-byte digests, never the text.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def _minhash_sig_sql(num_hashes: int = 8) -> str:
    from ..operators.hashing import affine_long_sql
    from ..operators.text import _POLY_BASE

    poly = "CAST(codes[i] AS BIGINT)"
    for j in range(1, 5):
        poly = f"({poly} * {_POLY_BASE} + codes[i + {j}])"
    base = affine_long_sql(poly, 0)
    mins = ",\n           ".join(
        f"list_min(list_transform(bh, h -> {affine_long_sql('h', j)})) AS sig{j}"
        for j in range(num_hashes)
    )
    return f"""
    WITH cp AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(text)),
                              i -> ascii(substr(text, i, 1))) AS codes
        FROM documents
    ),
    bh AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(codes) - 4, 0)),
                              i -> {base}) AS bh
        FROM cp
    ),
    sig AS (
        SELECT doc_id,
           {mins}
        FROM bh
    )
    """


@register(
    "dedup_minhash_signatures",
    _minhash_sig_sql()
    + """
    SELECT doc_id, sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7 FROM sig
    """,
    doc="MinHash signatures: rolling polynomial hash per 5-char shingle "
    "position + 8 affine rehashes, per-doc min — array higher-order "
    "functions, no explode, no shuffle (min over positions == min over "
    "the distinct shingle set).",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(load_table_parallel(spark, sf_dir, "documents"))


def shared_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached full-corpus banded MinHash index (doc_id, band,
    band_digest, sig0..7) — the ONE persisted dedup artifact the
    evaluation family shares (VERDICT r11 #7): dedup_lsh_precision's
    candidate table is a band self-join over it and
    streaming_dedup_gate's stored half is an even-id filter of it, so
    the shingle/md5 signature pipeline runs once per (session, sf)
    instead of once per query. In production this is the band table the
    batch dedup job already writes; signatures are per-doc pure
    functions, so banding the full corpus then filtering equals signing
    a filtered corpus.

    Cached by ``session_artifact`` (one live entry, evicted and released
    when the session, sf_dir or its files change)."""
    return session_artifact(spark, sf_dir, "band_index", _build_band_index)


def _build_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.band_table(
        dedup.minhash_signatures(load_table_parallel(spark, sf_dir, "documents")),
        "doc_id",
        8,
        4,
    ).localCheckpoint()


_BANDS_SQL = """
    banded AS (
        SELECT doc_id, 0 AS band,
               md5(CAST(sig0 AS VARCHAR) || '-' || CAST(sig1 AS VARCHAR)) AS band_digest,
               sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7 FROM sig
        UNION ALL
        SELECT doc_id, 1, md5(CAST(sig2 AS VARCHAR) || '-' || CAST(sig3 AS VARCHAR)),
               sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7 FROM sig
        UNION ALL
        SELECT doc_id, 2, md5(CAST(sig4 AS VARCHAR) || '-' || CAST(sig5 AS VARCHAR)),
               sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7 FROM sig
        UNION ALL
        SELECT doc_id, 3, md5(CAST(sig6 AS VARCHAR) || '-' || CAST(sig7 AS VARCHAR)),
               sig0, sig1, sig2, sig3, sig4, sig5, sig6, sig7 FROM sig
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sig0 AS a0, a.sig1 AS a1, a.sig2 AS a2, a.sig3 AS a3,
               a.sig4 AS a4, a.sig5 AS a5, a.sig6 AS a6, a.sig7 AS a7,
               b.sig0 AS b0, b.sig1 AS b1, b.sig2 AS b2, b.sig3 AS b3,
               b.sig4 AS b4, b.sig5 AS b5, b.sig6 AS b6, b.sig7 AS b7
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_digest = b.band_digest
                      AND a.doc_id < b.doc_id
    )
"""

_AGREE_SQL = " + ".join(f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)" for j in range(8))


@register(
    "dedup_minhash_lsh_pairs",
    _minhash_sig_sql().rstrip()
    + ",\n"
    + _BANDS_SQL
    + f"""
    SELECT doc_a, doc_b, ({_AGREE_SQL}) / 8.0 AS jaccard_est
    FROM pairs
    WHERE ({_AGREE_SQL}) / 8.0 >= 0.5
    """,
    doc="MinHash+LSH near-dup pairs: shingle -> minhash -> band digest -> "
    "equi-join on (band, digest) -> signature-agreement estimate. The "
    "band join is what keeps 100 TB sub-quadratic.",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(load_table_parallel(spark, sf_dir, "documents"))


def _simhash_sql(bits: int = 16) -> str:
    sums = ",\n               ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    pack = " + ".join(f"(CASE WHEN s{i} >= 0 THEN {2**i} ELSE 0 END)" for i in range(bits))
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKS}) AS token FROM documents
    ),
    h AS (SELECT doc_id, {MD5L.format(x='token')} AS th FROM tok),
    s AS (
        SELECT doc_id,
               {sums}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM s
    """


@register(
    "dedup_simhash",
    _simhash_sql(),
    doc="16-bit token SimHash: one explode + one map-side-combinable "
    "hash-groupBy; near-dups share digests within small Hamming distance.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table_parallel(spark, sf_dir, "documents"))


def _simhash_neardup_sql(bits: int = 32, max_hamming: int = 3) -> str:
    # Same token-md5 bit sums as _simhash_sql, packed into 4 8-bit bands
    # (band j = digest bits 8j..8j+7) for the Hamming-banded pair join.
    sums = ",\n               ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    band_exprs = []
    for j in range(4):
        terms = " + ".join(
            f"(CASE WHEN s{8 * j + k} >= 0 THEN {2**k} ELSE 0 END)" for k in range(8)
        )
        band_exprs.append(f"CAST({terms} AS INTEGER) AS b{j}")
    bands = ",\n               ".join(band_exprs)
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKS}) AS token FROM documents
    ),
    h AS (SELECT doc_id, {MD5L.format(x='token')} AS th FROM tok),
    s AS (
        SELECT doc_id,
               {sums}
        FROM h GROUP BY doc_id
    ),
    b AS (
        SELECT doc_id,
               {bands}
        FROM s
    ),
    e AS (
        SELECT doc_id, b0, b1, b2, b3, 0 AS band, b0 AS band_val FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 1, b1 FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 2, b2 FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 3, b3 FROM b
    ),
    p AS (
        SELECT DISTINCT a.doc_id AS doc_a, z.doc_id AS doc_b,
               CAST(bit_count(xor(a.b0, z.b0)) + bit_count(xor(a.b1, z.b1))
                  + bit_count(xor(a.b2, z.b2)) + bit_count(xor(a.b3, z.b3))
                    AS INTEGER) AS hamming
        FROM e a
        JOIN e z ON a.band = z.band AND a.band_val = z.band_val
                AND a.doc_id < z.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= {max_hamming}
    """


@register(
    "dedup_simhash_neardup",
    _simhash_neardup_sql(),
    doc="SimHash near-dup pairs via the Hamming-banded candidate join "
    "(the text twin of multimodal_phash_neardup, same "
    "operators/dedup.py::hamming_banded_pairs machinery): 32-bit token "
    "SimHash split into 4 8-bit bands — (band, value) equi-join, exact "
    "bit_count(xor) distance filter at <= 3 — inside the pigeonhole "
    "guarantee (bands-1), so the returned pair set is EXACT, not "
    "approximate-recall. The 32/8 geometry keeps the "
    "oracle replayable; production would run 64/16 through the same "
    "operator with the max_band_df skew valve.",
)
def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dedup.simhash(load_table_parallel(spark, sf_dir, "documents"), bits=32)
    bands = sh.select(
        "doc_id",
        *[
            F.shiftright("simhash", 8 * j).bitwiseAND(F.lit(255)).cast("int").alias(f"b{j}")
            for j in range(4)
        ],
    )
    pairs = dedup.hamming_banded_pairs(
        bands, "doc_id", ["b0", "b1", "b2", "b3"], bits_per_band=8, max_hamming=3
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


# Shared gram CTE + pair predicate for the ngram-Jaccard family. The
# max_gram_df=100 cap in the Spark calls is the skew valve for the
# posting-list join (see operators.dedup); measured gram df tops out at
# 6 at sf0.1, so the cap provably never bites at oracle/bench scales and
# the exact DuckDB SQL below stays a faithful oracle.
_NGRAM_GRAMS_CTE = f"""
    t AS (
        SELECT doc_id, source, {TOKS} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, source,
               CASE WHEN len(toks) >= 3
                    THEN list_distinct(list_transform(
                        generate_series(0, len(toks) - 3),
                        i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))
                    ELSE CAST([] AS VARCHAR[]) END AS grams
        FROM t
    )
"""

_NGRAM_JACCARD = (
    "len(list_intersect(a.grams, b.grams))"
    " / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)"
)


def _window_table_cte(k: int, cap: int) -> str:
    """Shared stok/w/c CTE block: tokenized docs, the k-token window-hash
    table with 1-based positions (parallel unnest zips positions with
    hashes), and the df-cap — the SQL twin of ``dedup._window_table``,
    kept in ONE place so the cross-doc and self-join oracles can't
    drift apart. The QUALIFY mirrors the Spark df-cap (measured max
    window df at sf0.1 is 3, so cap=100 provably never bites at
    oracle/bench scales and the SQL stays a faithful oracle — same
    argument as the ngram cap)."""
    return f"""
    stok AS (
        SELECT doc_id, {TOKS} AS toks FROM documents
    ),
    w AS (
        SELECT doc_id,
               unnest(generate_series(1, len(toks) - {k} + 1)) AS pos,
               unnest(list_transform(
                   generate_series(1, len(toks) - {k} + 1),
                   i -> md5(array_to_string(toks[i:i + {k - 1}], ' ')))) AS wh
        FROM stok WHERE len(toks) >= {k}
    ),
    c AS (
        SELECT * FROM w QUALIFY count(*) OVER (PARTITION BY wh) <= {cap}
    )"""


def _substring_spans_cte(k: int = 8, min_overlap: int = 12, cap: int = 100) -> str:
    return f"""{_window_table_cte(k, cap)},
    m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        FROM c a JOIN c b ON a.wh = b.wh AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT *, pos_a - row_number() OVER (
            PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS island
        FROM m
    ),
    spans AS (
        SELECT doc_a, doc_b,
               min(pos_a) AS a_start, min(pos_b) AS b_start,
               count(*) + {k} - 1 AS overlap_tokens
        FROM isl
        GROUP BY doc_a, doc_b, diag, island
        HAVING count(*) + {k} - 1 >= {min_overlap}
    )"""


def _exact_substring_sql(k: int = 8, min_overlap: int = 12, cap: int = 100) -> str:
    return f"""
    WITH {_substring_spans_cte(k, min_overlap, cap)}
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(overlap_tokens AS BIGINT) AS overlap_tokens
    FROM spans
    """


@register(
    "dedup_exact_substring",
    _exact_substring_sql(),
    doc="Exact substring dedup (Lee et al. 2021): verbatim cross-doc "
    "token spans >= 12 tokens via 8-token window hashing + "
    "gaps-and-islands over match diagonals — window-hash equi-join, "
    "never all-pairs; the df cap is the boilerplate/skew valve.",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_substring_pairs(
        load_table_parallel(spark, sf_dir, "documents"),
        window_tokens=8,
        min_overlap_tokens=12,
        max_window_df=100,
    )


def _self_substring_cte(k: int = 3, min_overlap: int = 4, cap: int = 100) -> str:
    # k=3/L=4 tuned to the corpus's repetition profile: the synthetic
    # documents are near-random word streams, so 8-token self-repeats
    # are absent; 3-token windows surface the real (rare) repeats while
    # the same k=8 defaults stay for production text.
    return f"""{_window_table_cte(k, cap)},
    m AS (
        SELECT a.doc_id AS id, a.pos AS pos_a, b.pos AS pos_b,
               b.pos - a.pos AS diag
        FROM c a JOIN c b ON a.wh = b.wh AND a.doc_id = b.doc_id
                          AND a.pos < b.pos
    ),
    isl AS (
        SELECT *, pos_a - row_number() OVER (
            PARTITION BY id, diag ORDER BY pos_a) AS island
        FROM m
    ),
    spans AS (
        SELECT id AS doc_id,
               min(pos_a) AS first_start, min(pos_b) AS repeat_start,
               count(*) + {k} - 1 AS overlap_tokens
        FROM isl
        GROUP BY id, diag, island
        HAVING count(*) + {k} - 1 >= {min_overlap}
    )"""


@register(
    "dedup_self_substring",
    f"""
    WITH {_self_substring_cte()}
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(first_start AS BIGINT) AS first_start,
           CAST(repeat_start AS BIGINT) AS repeat_start,
           CAST(overlap_tokens AS BIGINT) AS overlap_tokens
    FROM spans
    """,
    doc="WITHIN-document verbatim repetition (the self-dedup half of "
    "Lee et al. 2021): window-hash self-join keyed on (doc, hash) + "
    "gaps-and-islands per diagonal — a document's cost is bounded by "
    "its own repeated-window count, never corpus-quadratic.",
)
def dedup_self_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.self_substring_spans(
        load_table_parallel(spark, sf_dir, "documents"),
        window_tokens=3,
        min_overlap_tokens=4,
        max_window_df=100,
    )


def _strip_spans_sql() -> str:
    # Interval merge mirrors strip_duplicate_spans: running pre-row max
    # of interval ends -> island flags -> merged [min s, max e]; tokens
    # surviving every merged interval are re-joined with single spaces
    # (both engines tokenize-and-rejoin, so parity is exact even if the
    # source text had irregular whitespace).
    return f"""
    WITH {_substring_spans_cte()},
    iv AS (
        SELECT doc_b AS id, b_start AS s,
               b_start + overlap_tokens - 1 AS e
        FROM spans
    ),
    flagged AS (
        SELECT id, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL THEN 1
                    WHEN s > max(e) OVER (
                        PARTITION BY id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    grp AS (
        SELECT *, sum(new_island) OVER (
            PARTITION BY id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ),
    mrg AS (SELECT id, g, min(s) AS s, max(e) AS e FROM grp GROUP BY id, g),
    ivl AS (
        SELECT id, list(struct_pack(s := s, e := e) ORDER BY s, e) AS ivs,
               sum(e - s + 1) AS removed
        FROM mrg GROUP BY id
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           -- COALESCE: duckdb's array_to_string([]) is NULL where
           -- spark's concat_ws over an empty array is ''
           COALESCE(CASE WHEN i.ivs IS NULL THEN array_to_string(d.toks, ' ')
                ELSE array_to_string(
                    [d.toks[p] FOR p IN generate_series(1, len(d.toks))
                     IF len(list_filter(i.ivs, x -> p >= x.s AND p <= x.e)) = 0],
                    ' ')
           END, '') AS text,
           CAST(COALESCE(i.removed, 0) AS BIGINT) AS n_tokens_removed
    FROM stok d LEFT JOIN ivl i ON d.doc_id = i.id
    """


@register(
    "dedup_strip_spans",
    _strip_spans_sql(),
    doc="APPLY exact substring dedup (the second half of Lee et al. "
    "2021): every duplicated span is removed from the higher-id doc of "
    "each pair (keep-first policy) after merging overlapping removal "
    "ranges per doc — pairs to cleaned corpus, one interval-merge "
    "shuffle plus one left join back to the documents.",
)
def dedup_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    pairs = dedup.exact_substring_pairs(
        docs, window_tokens=8, min_overlap_tokens=12, max_window_df=100
    )
    return dedup.strip_duplicate_spans(docs, pairs)


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_NGRAM_GRAMS_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round({_NGRAM_JACCARD}, 6) AS jaccard
    FROM g a
    JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE {_NGRAM_JACCARD} >= 0.2
    """,
    doc="Exact word-3-gram Jaccard within source blocks via an inverted-"
    "index join on (block, gram) + length-ratio prune + hot-gram df cap "
    "— never quadratic in the block size.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table_parallel(spark, sf_dir, "documents"), block_col="source", max_gram_df=100
    )


_VEC_CTE = """
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, label, e,
               list_sum(list_transform(e, x -> x * x)) AS nrm
        FROM v
    )
"""

_DOT = "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"


@register(
    "dedup_embedding_cosine",
    _VEC_CTE
    + f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_DOT.format(a='a.e', b='b.e')} / (sqrt(a.nrm) * sqrt(b.nrm)), 6) AS cosine
    FROM n a
    JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_DOT.format(a='a.e', b='b.e')} / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.9
    """,
    doc="Embedding near-dup pairs: exact cosine within label blocks (the "
    "coarse-cluster/IVF pattern: block first, exact-verify inside).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_cosine_pairs(
        load_table_parallel(spark, sf_dir, "embeddings"), block_col="label"
    )


_HB = MD5L.format(x="CAST(doc_id AS VARCHAR) || '|{salt}'")


@register(
    "sampling_hash_split",
    f"""
    WITH b AS (
        SELECT doc_id, source,
               ({_HB.format(salt='split')}) % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN bucket < 500 THEN 'val'
                WHEN bucket < 1000 THEN 'test'
                ELSE 'train' END AS split
    FROM b
    """,
    doc="Deterministic hash-based train/val/test split: one md5 bucket per "
    "key decides membership — identical on every run/engine/parallelism, "
    "leak-proof by construction, zero-shuffle projection.",
)
def sampling_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import train_val_test_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return train_val_test_split(docs, "doc_id", val_rate=0.05, test_rate=0.05)


@register(
    "sampling_weighted",
    f"""
    WITH w AS (
        SELECT doc_id, source,
               least(1.0, greatest(0.0,
                   CAST(length(text) AS DOUBLE) / 2000.0)) AS keep_w
        FROM documents
    )
    SELECT doc_id, source
    FROM w
    WHERE ({_HB.format(salt='wsample')}) % 10000
          < CAST(floor(keep_w * 10000) AS BIGINT)
    """,
    doc="Per-row weighted sampling: each document is kept with "
    "probability equal to its own quality weight (here a length proxy, "
    "clamped to [0,1]) via the deterministic md5 bucket grid — the "
    "quality-proportional corpus-selection pass; row-local filter, no "
    "shuffle, no RNG, reproducible across engines/reruns/duplicates.",
)
def sampling_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = weighted_sample(
        docs, "doc_id", F.length("text") / F.lit(2000.0), salt="wsample"
    )
    return kept.select("doc_id", "source")


@register(
    "sampling_per_group_cap",
    f"""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ({_HB.format(salt='cap')}) % 10000, doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source FROM r WHERE rk <= 10
    """,
    doc="Per-source cap (deterministic reservoir): rank by hash within "
    "each source, keep 10 — the domain-balancing primitive; one shuffle "
    "on the group key.",
)
def sampling_per_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import per_group_cap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return per_group_cap(docs, "source", 10, "doc_id")


@register(
    "sampling_reservoir_weighted",
    f"""
    WITH pr AS (
        SELECT lang, doc_id, n_chars,
               CAST({_HB.format(salt='wres')} AS DOUBLE)
                   / CAST(n_chars AS DOUBLE) AS priority
        FROM documents
        WHERE n_chars > 0
    ),
    r AS (
        SELECT lang, doc_id, n_chars, priority,
               row_number() OVER (
                   PARTITION BY lang ORDER BY priority, doc_id
               ) AS rk
        FROM pr
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           priority
    FROM r WHERE rk <= 5
    """,
    doc="Weighted reservoir with per-key budgets (priority-order w/u "
    "selection, hash-determinized): exactly 5 docs per language, inclusion "
    "biased toward long documents via priority = md5(key)/weight, keep "
    "the k smallest per group. The division of two exact integers is "
    "IEEE-correctly-rounded, so the selected set is bit-identical "
    "across engines (pow/ln, which classic A-ES needs, are not) — "
    "rank-k windowed top-k per group, never a global sort.",
)
def sampling_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_reservoir_per_key

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    kept = weighted_reservoir_per_key(
        docs, "lang", 5, "doc_id", "n_chars", salt="wres"
    )
    # priority is emitted UNROUNDED: it's hash/weight — two exact
    # integers through one correctly-rounded IEEE division — so the
    # raw double is already bit-identical across engines (and its
    # ~1e15 magnitude overflows trino_round's fixed-point path)
    return kept.select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "priority",
    )


@register(
    "sampling_priority_estimate",
    f"""
    WITH pr AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
               CAST(n_chars AS DOUBLE) / (
                   CAST(({_HB.format(salt='psamp')}) + 1 AS DOUBLE)
                   / 1152921504606846976.0
               ) AS q
        FROM documents
        WHERE n_chars > 0
    ),
    top AS (
        SELECT doc_id, w, q,
               row_number() OVER (ORDER BY q DESC, doc_id) AS rk
        FROM (SELECT * FROM pr ORDER BY q DESC, doc_id LIMIT 51) t
    ),
    est AS (
        SELECT max(tau.q) AS tau,
               CAST(sum(CAST(greatest(s.w, tau.q) AS DECIMAL(38,12)))
                    AS DOUBLE) AS est_total
        FROM top s, (SELECT q FROM top WHERE rk = 51) tau
        WHERE s.rk <= 50
    ),
    tt AS (
        SELECT CAST(sum(CAST(n_chars AS DECIMAL(38,12))) AS DOUBLE)
               AS true_total
        FROM documents WHERE n_chars > 0
    )
    SELECT CAST(50 AS BIGINT) AS k,
           round(tau, 6) AS tau,
           round(est_total, 6) AS est_total,
           round(true_total, 6) AS true_total,
           round(abs(est_total - true_total) / true_total, 6) AS rel_err
    FROM est, tt
    """,
    doc="Priority sampling (Duffield-Lund-Thorup 2007): estimate the "
    "corpus's total weight (chars) from a 50-row sample + the (k+1)-th "
    "priority threshold tau; each sampled row contributes max(w, tau) "
    "(Horvitz-Thompson with a data-driven threshold). Priorities are "
    "w/u with u an md5-derived uniform — exact IEEE divisions, so the "
    "estimate is engine-reproducible and exact-checkable. Top-(k+1) is "
    "TakeOrdered, no global sort; the lone k+1-row window runs in one "
    "tiny task.",
)
def sampling_priority_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import priority_sample_estimate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return priority_sample_estimate(docs, "doc_id", "n_chars", 50, salt="psamp")


def _jaccard_pairs(block_col: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return dedup.ngram_jaccard_pairs(
            load_table_parallel(spark, sf_dir, "documents"),
            block_col=block_col,
            max_gram_df=100,
        ).localCheckpoint()

    return build


def _cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-blocked near-dup pair table: in a deduplication pipeline the
    pairwise stage's output is the *input artifact* of the clustering
    stage — bench times the clustering, not a recompute of the pairs."""
    return session_artifact(spark, sf_dir, "cluster_pairs", _jaccard_pairs("source"))


def _containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-blocked near-dup pairs for the cross-source containment
    matrix: same inverted-index ngram-Jaccard join as ``_cluster_pairs``
    but blocked on ``lang`` so components CAN span sources (a
    source-blocked graph would make every containment 0 by
    construction). A separate artifact name, so both tables of one
    sf_dir stay cached together."""
    return session_artifact(
        spark, sf_dir, "containment_pairs", _jaccard_pairs("lang")
    )


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_NGRAM_GRAMS_CTE},
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM g a
        JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE {_NGRAM_JACCARD} >= 0.2
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM p
    ),
    reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    )
    SELECT src AS id, least(src, min(dst)) AS cluster
    FROM reach
    GROUP BY src
    """,
    doc="Near-dup pair graph -> connected components (iterative min-label "
    "propagation, localCheckpoint-fenced lineage): the canonical-document "
    "assignment that turns pairwise dedup output into keep/drop decisions. "
    "Oracle: DuckDB recursive transitive closure + min label per node "
    "(fine at oracle scale; the Spark path is the O(diameter) one).",
    prepare=_cluster_pairs,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup clusters are dense and shallow (2-3 rounds either way):
    # the pointer-jumping join would cost more than it saves
    return dedup.connected_components(
        _cluster_pairs(spark, sf_dir), pointer_jumping=False
    )


@register(
    "dedup_cluster_containment",
    f"""
    WITH RECURSIVE lt AS (
        SELECT doc_id, lang, {TOKS} AS toks FROM documents
    ),
    lg AS (
        SELECT doc_id, lang,
               CASE WHEN len(toks) >= 3
                    THEN list_distinct(list_transform(
                        generate_series(0, len(toks) - 3),
                        i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]))
                    ELSE CAST([] AS VARCHAR[]) END AS grams
        FROM lt
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM lg a
        JOIN lg b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE {_NGRAM_JACCARD} >= 0.2
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM p
    ),
    reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    ),
    cl AS (
        SELECT src AS id, least(src, min(dst)) AS cluster
        FROM reach GROUP BY src
    ),
    lab AS (
        SELECT d.source, COALESCE(c.cluster, d.doc_id) AS cluster
        FROM documents d LEFT JOIN cl c ON c.id = d.doc_id
    ),
    cs AS (SELECT DISTINCT cluster, source FROM lab),
    per AS (SELECT source, count(*) AS n FROM cs GROUP BY 1),
    sh AS (
        SELECT x.source AS sa, y.source AS sb, count(*) AS shared
        FROM cs x JOIN cs y ON x.cluster = y.cluster AND x.source <> y.source
        GROUP BY 1, 2
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(a.n AS BIGINT) AS n_clusters_a,
           CAST(COALESCE(s.shared, 0) AS BIGINT) AS n_shared,
           round(CAST(COALESCE(s.shared, 0) AS DOUBLE) / a.n, 6) AS containment
    FROM per a
    JOIN per b ON a.source <> b.source
    LEFT JOIN sh s ON s.sa = a.source AND s.sb = b.source
    ORDER BY 1, 2
    """,
    doc="Cluster-level cross-source containment matrix (VERDICT r12 #8 — "
    "extends corpus_overlap_matrix's shingle-level view to post-"
    "clustering content units): docs label with their near-dup "
    "connected component (singletons = own doc_id), and for each "
    "ordered source pair containment(a->b) = |a's clusters that also "
    "contain b docs| / |a's clusters| — the asymmetric 'how much of "
    "crawl A's content already exists in crawl B' that decides drop "
    "order when mixing corpora. The cluster self-join emits s(s-1) "
    "rows per cluster (s = sources present, bounded by the source "
    "count), never doc pairs; the final |sources|^2 matrix assembles "
    "from two tiny aggregates. Pairs block on LANGUAGE (not source — "
    "source-blocked pairs can never span sources, which is the very "
    "thing this measures); near-dups across crawls share a language, "
    "so the lang block keeps the posting-list join linear while "
    "letting clusters cross sources.",
    prepare=_containment_pairs,
)
def dedup_cluster_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    cc = dedup.connected_components(
        _containment_pairs(spark, sf_dir), pointer_jumping=False
    )
    lab = docs.join(cc, docs["doc_id"] == cc["id"], "left").select(
        "source", F.coalesce(cc["cluster"], docs["doc_id"]).alias("cluster")
    )
    # NOT fenced (r18 A/B: fence 1.76 s vs no fence 1.48 s min-of-3
    # interleaved): connected_components' output is already
    # lineage-fenced internally, so the three consumers replan only
    # cheap joins — a localCheckpoint here adds an eager job for nothing.
    cs = lab.select("cluster", "source").distinct()
    per = cs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    sh = (
        cs.alias("x")
        .join(
            cs.alias("y"),
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.source") != F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("sa"), F.col("y.source").alias("sb")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    a = per.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    b = per.select(F.col("source").alias("source_b"))
    return (
        # explicit broadcast: per is one row per SOURCE (bounded by the
        # crawl count), but the fenced side's size estimate is an upper
        # bound scaled from the crawl input, so without the hint the
        # non-equi source-pair join can degenerate to a CartesianProduct
        a.join(F.broadcast(b), F.col("source_a") != F.col("source_b"))
        .join(
            sh,
            (F.col("sa") == F.col("source_a")) & (F.col("sb") == F.col("source_b")),
            "left",
        )
        .select(
            "source_a",
            "source_b",
            F.col("na").cast("bigint").alias("n_clusters_a"),
            F.coalesce(F.col("shared"), F.lit(0)).cast("bigint").alias("n_shared"),
            trino_round(
                F.coalesce(F.col("shared"), F.lit(0)).cast("double") / F.col("na"),
                6,
            ).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))


@register(
    "similarity_topk_bruteforce",
    _VEC_CTE
    + f"""
    , q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
    SELECT vec_id,
           round({_DOT.format(a='e', b='qe')} / (sqrt(nrm) * sqrt(qn)), 6) AS score
    FROM n, q
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-10 against vec_id=0: broadcast 1-row query, "
    "linear scan, TakeOrdered top-k — the exact ANN baseline.",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


_BUCKET = " + ".join(f"(CASE WHEN {{e}}[{i + 1}] > 0 THEN {2**i} ELSE 0 END)" for i in range(8))


@register(
    "similarity_topk_lsh",
    _VEC_CTE
    + f"""
    , b AS (
        SELECT vec_id, e, nrm, CAST({_BUCKET.format(e='e')} AS BIGINT) AS bucket FROM n
    ),
    q AS (SELECT e AS qe, nrm AS qn, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round({_DOT.format(a='e', b='qe')} / (sqrt(nrm) * sqrt(qn)), 6) AS score
    FROM b, q
    WHERE bucket = qbucket
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="Sign-LSH bucketed top-10: probe only the query's 8-bit sign bucket "
    "then exact re-score — the ~2^8-fold-pruned scale path.",
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(emb, _query_vec(spark, sf_dir), k=10)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_EN = ", ".join(f"'{w}'" for w in text.LANG_LEXICONS["en"])


@register(
    "text_stats",
    f"""
    WITH t AS (
        SELECT doc_id, text, {TOKS} AS toks, len(text) AS nc FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_tokens_bpe,
           CAST(nc AS INTEGER) AS n_chars_measured,
           round(CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS avg_token_len,
           round(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / nc, 4) AS punct_ratio,
           round(CAST(len(list_filter(toks, w -> lower(w) IN ({_EN}))) AS DOUBLE) / len(toks), 4)
               AS stopword_ratio,
           CAST(round(
               (CASE WHEN len(toks) >= 10 AND len(toks) <= 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) >= 3
                        AND CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) <= 12
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / nc <= 0.2
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(list_filter(toks, w -> lower(w) IN ({_EN}))) AS DOUBLE) / len(toks) >= 0.01
                       THEN 0.2 ELSE 0.0 END),
               1) AS DOUBLE) AS quality_score,
           ((CASE WHEN len(toks) >= 10 AND len(toks) <= 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) >= 3
                        AND CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) <= 12
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / nc <= 0.2
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(list_filter(toks, w -> lower(w) IN ({_EN}))) AS DOUBLE) / len(toks) >= 0.01
                       THEN 0.2 ELSE 0.0 END)) >= 0.8 AS is_high_quality
    FROM t
    """,
    doc="Text quality scoring: token/char counts, BPE-ish token estimate, "
    "punctuation/stopword ratios, composite quality score — one "
    "codegen'd projection, no shuffle.",
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(load_table_parallel(spark, sf_dir, "documents"))


def _lang_hits_sql() -> str:
    cols = []
    for lang, lex in text.LANG_LEXICONS.items():
        words = ", ".join(f"'{w}'" for w in lex)
        cols.append(
            f"CAST(len(list_filter(toks, w -> lower(w) IN ({words}))) AS INTEGER) AS hits_{lang}"
        )
    return ",\n           ".join(cols)


def _lang_pred_sql() -> str:
    langs = list(text.LANG_LEXICONS)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"hits_{lang} >= hits_{other}" for other in langs[i + 1:])
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


@register(
    "text_language_id",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    h AS (
        SELECT doc_id,
           {_lang_hits_sql()}
        FROM t
    )
    SELECT doc_id, hits_en, hits_es, hits_fr, hits_de, hits_zh,
           {_lang_pred_sql()} AS predicted_lang
    FROM h
    """,
    doc="Lexicon-hit language ID with deterministic argmax tiebreak — the "
    "n-gram-heuristic family expressed as one projection.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table_parallel(spark, sf_dir, "documents"))


@register(
    "text_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS content_fp,
           md5(array_to_string(
               list_sort(list_transform(toks, t -> {MD5L.format(x='t')}))[1:4], '-'))
               AS winnow_fp
    FROM t
    """,
    doc="Document fingerprints: canonical bag-of-words md5 + min-4 token-"
    "hash sketch (winnowing family) for dedup bucketing.",
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(load_table_parallel(spark, sf_dir, "documents"))


@register(
    "text_corpus_rollup",
    f"""
    WITH t AS (
        SELECT doc_id, source, text, {TOKS} AS toks, len(text) AS nc FROM documents
    ),
    s AS (
        SELECT source,
               len(toks) AS n_tokens,
               (CASE WHEN len(toks) >= 10 AND len(toks) <= 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) >= 3
                        AND CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) <= 12
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / nc <= 0.2
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(list_filter(toks, w -> lower(w) IN ({_EN}))) AS DOUBLE) / len(toks) >= 0.01
                       THEN 0.2 ELSE 0.0 END) AS q
        FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN q >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality,
           round(CAST(sum(CASE WHEN q >= 0.8 THEN 1.0 ELSE 0.0 END) AS DOUBLE) / count(*), 4)
               AS high_quality_share
    FROM s
    GROUP BY source
    """,
    doc="Corpus curation rollup: per-row text_stats composed into per-source "
    "doc/token totals and high-quality share — the operator-composition "
    "pattern (projection feeds aggregate in one job, stats never "
    "materialized).",
)
def text_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain load (r19 A/B: 0.66 vs 0.78 s)
    docs = load_table(spark, sf_dir, "documents")
    stats = text.text_stats(docs).join(docs.select("doc_id", "source"), "doc_id")
    hq = F.when(F.col("is_high_quality"), 1).otherwise(0)
    return stats.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(hq).cast("long").alias("n_high_quality"),
        trino_round(
            F.sum(hq.cast("double")) / F.count("*"), 4
        ).alias("high_quality_share"),
    )



def _ivf_index(spark: SparkSession, sf_dir: str) -> similarity.IvfIndex:
    """The built IVF index: the build is the offline half (write-once at
    scale); queries/bench time the probe."""
    return session_artifact(spark, sf_dir, "ivf_index", _build_ivf_index)


def _build_ivf_index(spark: SparkSession, sf_dir: str) -> similarity.IvfIndex:
    return similarity.build_ivf_index(
        load_table_parallel(spark, sf_dir, "embeddings"), n_cells=16, method="hash"
    )


_IVF_DOT = "list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]))"
_IVF_HR = MD5L.format(x="CAST(vec_id AS VARCHAR) || '|ivf'")


# Shared IVF oracle CTEs: deterministic hash-sampled centroids (c),
# first-max cell assignment (asg) — the SQL re-derivation of
# build_ivf_index(method="hash"). Single- and batch-probe oracles append
# their own q/probe/select on top.
_IVF_CTES = (
    _VEC_CTE
    + f"""
    , c AS (
        SELECT row_number() OVER (ORDER BY {_IVF_HR}, vec_id) - 1 AS cell, e AS ce, nrm AS cnrm
        FROM n
        ORDER BY {_IVF_HR}, vec_id
        LIMIT 16
    ),
    scored_cells AS (
        SELECT n.vec_id, n.e, n.nrm, c.cell,
               row_number() OVER (
                   PARTITION BY n.vec_id
                   ORDER BY {_IVF_DOT.format(a='n.e', b='c.ce')} / (sqrt(n.nrm) * sqrt(c.cnrm)) DESC,
                            c.cell
               ) AS rk
        FROM n, c
    ),
    asg AS (SELECT vec_id, e, nrm, cell FROM scored_cells WHERE rk = 1)
"""
)


@register(
    "similarity_topk_ivf",
    _IVF_CTES
    + f"""
    , q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0),
    probe AS (
        SELECT c.cell
        FROM c, q
        ORDER BY {_IVF_DOT.format(a='c.ce', b='q.qe')} / (sqrt(c.cnrm) * sqrt(q.qn)) DESC, c.cell
        LIMIT 2
    )
    SELECT asg.vec_id,
           round({_IVF_DOT.format(a='asg.e', b='q.qe')} / (sqrt(asg.nrm) * sqrt(q.qn)), 6) AS score
    FROM asg, q
    WHERE asg.cell IN (SELECT cell FROM probe)
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="IVF-Flat top-10 with the index built offline (hash-sampled "
    "deterministic quantizer, zero-shuffle argmax assignment, "
    "localCheckpointed — built once per corpus via _ivf_index) and only "
    "the probe in the query path: rank centroids, broadcast semi-join "
    "the 2 best cells, exact cosine re-rank — each probe reads "
    "~n_probe/n_cells of the corpus. The oracle re-derives the identical "
    "quantizer in SQL (hash-ordered seed vectors, first-max cell "
    "assignment).",
    prepare=_ivf_index,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_probe(
        _ivf_index(spark, sf_dir), _query_vec(spark, sf_dir), k=10, n_probe=2
    )


def _winnow_poly_sql() -> str:
    from ..operators.hashing import affine_long_sql
    from ..operators.text import _POLY_BASE

    poly = "CAST(codes[i] AS BIGINT)"
    for j in range(1, 5):
        poly = f"({poly} * {_POLY_BASE} + codes[i + {j}])"
    return affine_long_sql(poly, 0)


@register(
    "text_winnowing",
    f"""
    WITH cp AS (
        SELECT doc_id,
               list_transform(generate_series(1, len(text)),
                              i -> ascii(substr(text, i, 1))) AS codes
        FROM documents
    ),
    ph AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(codes) - 4, 0)),
                              i -> {_winnow_poly_sql()}) AS bh
        FROM cp
    ),
    m AS (
        SELECT doc_id, bh,
               CASE WHEN len(bh) >= 4
                    THEN list_transform(generate_series(1, len(bh) - 3),
                                        j -> list_min(bh[j:j+3]))
                    WHEN len(bh) > 0 THEN [list_min(bh)]
                    ELSE CAST([] AS BIGINT[]) END AS minima
        FROM ph
    )
    SELECT doc_id,
           CAST(len(bh) AS INTEGER) AS n_kgrams,
           CAST(len(list_distinct(minima)) AS INTEGER) AS n_selected,
           md5(array_to_string(list_sort(list_distinct(minima)), '-')) AS winnow_fingerprint
    FROM m
    """,
    doc="Winnowing fingerprint (rolling k-gram hashes, window-min "
    "selection): any shared substring of length >= k+w-1 yields a shared "
    "fingerprint hash — the plagiarism/dedup primitive, one projection, "
    "no shuffle.",
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.winnowing_fingerprint(load_table_parallel(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


@register(
    "multimodal_metadata",
    """
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_length,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="Typed metadata over an opaque binary column (payload derived from "
    "text for the harness): byte length + digest, pure projection — the "
    "binary never leaves the executors.",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.binary_metadata(assets).select(
        "asset_id", "media_type", "byte_length", "content_md5"
    )


@register(
    "multimodal_features",
    # The PIL decode branch is non-SQL-expressible, but the deterministic
    # twin that actually runs here is plain byte arithmetic, and the
    # harness payloads are UTF-8 of pure-ASCII text (max code point 121
    # in the testdata), so per-character ord == per-byte value and the
    # whole feature row is DuckDB-expressible. COALESCE fences list_sum's
    # NULL on an empty payload (Python computes 0).
    """
    WITH c AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS blen,
               list_transform(split(text, ''), ch -> ord(ch)) AS codes
        FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           blen AS byte_length,
           CAST(CASE WHEN blen > 0 THEN codes[1] ELSE -1 END AS INTEGER) AS first_byte,
           CAST(COALESCE(list_sum(codes), 0) % 1000003 AS BIGINT) AS byte_sum_mod,
           CASE WHEN blen > 0 THEN CAST(list_sum(codes) AS DOUBLE) / blen
                ELSE 0.0 END AS mean_byte
    FROM c
    """,
    doc="Pandas-UDF feature extraction over binary payloads via mapInPandas "
    "(deterministic fake decoder; real image decode stubbed behind an "
    "import-try). The fake decoder is byte arithmetic, so the driver gets "
    "a full hash-match oracle even though the operator runs in Python.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = multimodal.attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return multimodal.fake_feature_extractor(assets)


def _decode_image_sql() -> str:
    # The REAL decode path on P5 payloads is deterministic byte
    # arithmetic: the raster is the text's first 192 bytes zero-padded
    # into a 16x12 image, and the 8x8 NEAREST thumbnail samples 64 FIXED
    # raster positions (pixel-center nearest-neighbor), so the whole
    # feature row is SQL-expressible. Positions computed here exactly as
    # multimodal._nearest_resize does.
    w, h = 16, 12
    rowmap = [min(int((j + 0.5) * h / 8), h - 1) for j in range(8)]
    colmap = [min(int((i + 0.5) * w / 8), w - 1) for i in range(8)]
    pix = [
        f"CASE WHEN len(codes) > {r * w + c} THEN codes[{r * w + c + 1}] ELSE 0 END"
        for r in rowmap
        for c in colmap
    ]
    thumb = ",\n               ".join(pix)
    # NB: like multimodal_features, this assumes the harness corpus is
    # pure-ASCII non-null text (per-character ord == per-byte value; the
    # testdata's max code point is 121) — the COALESCE makes null text
    # decode as an all-zero raster on both sides rather than erroring.
    return f"""
    WITH c AS (
        SELECT doc_id,
               list_transform(split(COALESCE(text, '')[1:192], ''),
                              ch -> ord(ch)) AS codes
        FROM documents
    ),
    t AS (
        SELECT doc_id,
               [{thumb}] AS thumb
        FROM c
    )
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           CAST(13 + 192 AS BIGINT) AS byte_length,
           CAST(thumb[1] AS INTEGER) AS first_byte,
           CAST(list_sum(thumb) % 1000003 AS BIGINT) AS byte_sum_mod,
           CAST(list_sum(thumb) AS DOUBLE) / 64 AS mean_byte
    FROM t
    """


@register(
    "multimodal_decode_image",
    _decode_image_sql(),
    doc="REAL image decode through mapInPandas: each document's text is "
    "rendered into a binary 16x12 P5 (PGM) payload executor-side, then "
    "decode_image_features decodes the raster (pure-Python PNM codec "
    "behind the PIL seam), NEAREST-resamples to 8x8 and emits pixel "
    "stats. The oracle replays the decode as byte arithmetic on the 64 "
    "fixed thumbnail positions — full hash match on a genuinely "
    "executed decode body.",
)
def multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(b"P5 16 12 255\n"),
            F.expr(
                "rpad(encode(substring(coalesce(text, ''), 1, 192), 'UTF-8'),"
                " 192, X'00')"
            ),
        ).alias("content"),
    )
    return multimodal.decode_image_features(assets)


def _phash_bands_cte() -> str:
    """The doc->P5->8x8-thumbnail->aHash band replay as shared oracle
    CTEs (c/t/tm/b, b = doc_id, b0..b3) — used by both the batch
    near-dup oracle and the streaming gate oracle so the decode
    semantics can never diverge. Same fixed 16x12 -> 8x8 NEAREST
    sampling grid as _decode_image_sql; bit k is thumb[k] > mean."""
    w, h = 16, 12
    rowmap = [min(int((j + 0.5) * h / 8), h - 1) for j in range(8)]
    colmap = [min(int((i + 0.5) * w / 8), w - 1) for i in range(8)]
    pix = [
        f"CASE WHEN len(codes) > {r * w + c} THEN codes[{r * w + c + 1}] ELSE 0 END"
        for r in rowmap
        for c in colmap
    ]
    thumb = ",\n               ".join(pix)
    band_exprs = []
    for j in range(4):
        terms = " + ".join(
            f"CASE WHEN thumb[{16 * j + k + 1}] > m THEN {1 << k} ELSE 0 END"
            for k in range(16)
        )
        band_exprs.append(f"CAST({terms} AS INTEGER) AS b{j}")
    bands = ",\n           ".join(band_exprs)
    return f"""
    WITH c AS (
        SELECT doc_id,
               list_transform(split(COALESCE(text, '')[1:192], ''),
                              ch -> ord(ch)) AS codes
        FROM documents
    ),
    t AS (SELECT doc_id, [{thumb}] AS thumb FROM c),
    tm AS (SELECT doc_id, thumb, list_sum(thumb) / 64.0 AS m FROM t),
    b AS (
        SELECT doc_id,
           {bands}
        FROM tm
    )"""


def _phash_neardup_sql(max_hamming: int = 8) -> str:
    return _phash_bands_cte() + f""",
    e AS (
        SELECT doc_id, b0, b1, b2, b3, 0 AS band, b0 AS band_val FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 1, b1 FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 2, b2 FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 3, b3 FROM b
    ),
    p AS (
        SELECT DISTINCT a.doc_id AS asset_a, z.doc_id AS asset_b,
               CAST(bit_count(xor(a.b0, z.b0)) + bit_count(xor(a.b1, z.b1))
                  + bit_count(xor(a.b2, z.b2)) + bit_count(xor(a.b3, z.b3))
                    AS INTEGER) AS hamming
        FROM e a
        JOIN e z ON a.band = z.band AND a.band_val = z.band_val
                AND a.doc_id < z.doc_id
    )
    SELECT CAST(asset_a AS BIGINT) AS asset_a,
           CAST(asset_b AS BIGINT) AS asset_b,
           hamming
    FROM p WHERE hamming <= {max_hamming}
    """


@register(
    "multimodal_phash_neardup",
    _phash_neardup_sql(),
    doc="Perceptual-hash image near-dup (VERDICT r15 #6): render each "
    "document as a binary P5 image, decode through the REAL PNM seam "
    "(operators/multimodal.py phash_bands), aHash the 8x8 thumbnail into "
    "4 16-bit bands, and find pairs within Hamming distance 8 via the "
    "Hamming-banded candidate join (operators/dedup.py "
    "hamming_banded_pairs — equi-join on (band, value) buckets, never "
    "cartesian; distance <= 3 recall is exact by pigeonhole). The oracle "
    "replays the thumbnail byte arithmetic on the 64 fixed raster "
    "positions, then the same band self-join in SQL — full hash match on "
    "a genuinely executed decode + LSH pipeline.",
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = multimodal.phash_bands(
        _phash_assets(load_table_parallel(spark, sf_dir, "documents"))
    )
    pairs = dedup.hamming_banded_pairs(
        bands, "asset_id", ["b0", "b1", "b2", "b3"], bits_per_band=16, max_hamming=8
    )
    return pairs.select(
        F.col("id_a").alias("asset_a"), F.col("id_b").alias("asset_b"), "hamming"
    )


def _phash_assets(docs: DataFrame) -> DataFrame:
    """documents -> binary P5 image payloads (the harness's multimodal
    source projection, shared by the batch phash family and the
    streaming gate so every oracle replays the same bytes)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(b"P5 16 12 255\n"),
            F.expr(
                "rpad(encode(substring(coalesce(text, ''), 1, 192), 'UTF-8'),"
                " 192, X'00')"
            ),
        ).alias("content"),
    )


@register(
    "dedup_phash_clusters",
    _phash_bands_cte().replace("WITH c AS", "WITH RECURSIVE c AS", 1)
    + """,
    p AS (
        SELECT a.doc_id AS doc_a, z.doc_id AS doc_b
        FROM b a JOIN b z
          ON (a.b0 = z.b0 OR a.b1 = z.b1 OR a.b2 = z.b2 OR a.b3 = z.b3)
         AND a.doc_id < z.doc_id
        WHERE bit_count(xor(a.b0, z.b0)) + bit_count(xor(a.b1, z.b1))
            + bit_count(xor(a.b2, z.b2)) + bit_count(xor(a.b3, z.b3)) <= 8
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM p
    ),
    reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    )
    SELECT src AS id, least(src, min(dst)) AS cluster
    FROM reach
    GROUP BY src
    """,
    doc="Image near-dup CLUSTERS end-to-end: perceptual-hash banded "
    "pairs (Hamming <= 8) -> connected components (min-label union-find "
    "under the 2M-edge local guard, iterative propagation above it) -> "
    "(image, canonical-image) assignment — the keep/drop decision table "
    "batch image dedup feeds to the curation pipeline, completing the "
    "image family: pairs (multimodal_phash_neardup), streaming gate "
    "(streaming_phash_gate), clusters (this). Oracle: recursive "
    "transitive closure over the same byte-replayed pair set.",
)
def dedup_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = multimodal.phash_bands(
        _phash_assets(load_table_parallel(spark, sf_dir, "documents"))
    )
    pairs = dedup.hamming_banded_pairs(
        bands, "asset_id", ["b0", "b1", "b2", "b3"], bits_per_band=16, max_hamming=8
    )
    # image near-dup clusters are dense and shallow, same as text
    return dedup.connected_components(
        pairs, id_a="id_a", id_b="id_b", pointer_jumping=False
    )


# ---------------------------------------------------------------------------
# Batch similarity search (B queries per call — the production ANN shape)
# ---------------------------------------------------------------------------


def _query_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )


_BATCH_Q = ", q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 3)"


@register(
    "similarity_topk_batch",
    _VEC_CTE
    + _BATCH_Q
    + f"""
    , scored AS (
        SELECT q.qid, n.vec_id,
               round({_DOT.format(a='n.e', b='q.qe')} / (sqrt(n.nrm) * sqrt(q.qn)), 6) AS score
        FROM n, q
    ),
    r AS (
        SELECT qid, vec_id, score,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
        FROM scored
    )
    SELECT qid, vec_id, score FROM r WHERE rk <= 10
    """,
    doc="Exact brute-force top-10 for a 3-query batch: broadcast the "
    "query batch, score every corpus row against all queries in one "
    "pass, rank per query with a window over slim (qid, id, score) "
    "rows.",
)
def similarity_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_batch(emb, _query_batch(spark, sf_dir), k=10)


def _ivf_probe_sql(scored: str = "scored") -> str:
    """The batch IVF probe path (centroid ranking -> 2-cell probe list ->
    exact re-score) as shared oracle CTEs over a ``q`` query batch —
    used verbatim by both the batch top-k oracle and the recall oracle
    (harness/scale.py) so the probe semantics can never diverge."""
    return f"""
    , cprobe AS (
        SELECT qid, cell FROM (
            SELECT q.qid, c.cell,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY {_IVF_DOT.format(a='c.ce', b='q.qe')} / (sqrt(c.cnrm) * sqrt(q.qn)) DESC,
                                c.cell
                   ) AS crk
            FROM c, q
        ) WHERE crk <= 2
    ),
    {scored} AS (
        SELECT q.qid, asg.vec_id,
               round({_IVF_DOT.format(a='asg.e', b='q.qe')} / (sqrt(asg.nrm) * sqrt(q.qn)), 6) AS score
        FROM asg
        JOIN cprobe ON asg.cell = cprobe.cell
        JOIN q ON q.qid = cprobe.qid
    )"""


@register(
    "similarity_topk_ivf_batch",
    _IVF_CTES
    + _BATCH_Q
    + _ivf_probe_sql()
    + f"""
    , r AS (
        SELECT qid, vec_id, score,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rk
        FROM scored
    )
    SELECT qid, vec_id, score FROM r WHERE rk <= 10
    """,
    doc="Batch IVF probe against the offline index: per query rank "
    "centroids, keep the best 2 cells, join the (qid, cell) probe list "
    "to the assignment, exact re-rank per qid — candidates shrink "
    "~n_probe/n_cells before any shuffle (the batch-ANN scale path).",
    prepare=_ivf_index,
)
def similarity_topk_ivf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_probe_batch(
        _ivf_index(spark, sf_dir), _query_batch(spark, sf_dir), k=10, n_probe=2
    )


#: Shared CTEs for the int8 quantization pair: widen float32->double
#: (exact), per-vector symmetric scale, half-away-from-zero quantize.
_Q8_CTES = """
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, e,
               list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, e, scale,
               CASE WHEN scale > 0 THEN list_transform(e, x ->
                        CAST(CASE WHEN x >= 0 THEN floor(x / scale + 0.5)
                                  ELSE -floor(-x / scale + 0.5)
                             END AS INTEGER))
                    ELSE list_transform(e, x -> 0)
               END AS q_int8
        FROM s
    )
"""


@register(
    "embedding_quantize_int8",
    _Q8_CTES
    + """
    SELECT vec_id, scale,
           array_to_string(q_int8, ',') AS q_int8_csv,
           list_max(list_transform(generate_series(1, len(e)),
                    i -> abs(CAST(q_int8[i] AS DOUBLE) * scale - e[i])))
               AS max_abs_err
    FROM q
    """,
    doc="Row-local symmetric int8 quantization (scale = max|v|/127, half-"
    "away rounding) with per-vector reconstruction error: the 4x "
    "compression step for billion-vector ANN, pure mapper — no shuffle, "
    "fuses into the scan; all math in double so it is bit-reproducible. "
    "The code array is serialized to a CSV scalar for the comparison "
    "harness (element order is the vector's own, already canonical); "
    "library callers use operators.similarity.quantize_int8 directly "
    "and keep the typed array<int> column.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = similarity.quantize_int8(load_table_parallel(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.col("q_int8").cast("array<string>"), ",").alias(
            "q_int8_csv"
        ),
        "max_abs_err",
    )


@register(
    "similarity_topk_int8",
    _Q8_CTES
    + """
    , qv AS (SELECT scale AS qscale, q_int8 AS qq FROM q WHERE vec_id = 0)
    SELECT vec_id,
           round(scale * qscale * CAST(list_sum(
               list_transform(generate_series(1, len(q_int8)),
                              i -> CAST(q_int8[i] AS BIGINT) * qq[i])) AS DOUBLE),
               6) AS score
    FROM q, qv
    ORDER BY score DESC, vec_id
    LIMIT 10
    """,
    doc="Quantized brute-force top-10: INTEGER dot product over int8 codes "
    "(exact, order-independent accumulation — no float-sum drift), one "
    "double multiply by the two scales at the end. The serving shape: "
    "4x less memory bandwidth than float32 scan, same TakeOrdered plan.",
)
def similarity_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return similarity.int8_topk(emb, _query_vec(spark, sf_dir), k=10)


# ---------------------------------------------------------------------------
# Embedding column analytics
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    """
    WITH v AS (
        SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    x AS (
        SELECT label,
               unnest(list_transform(generate_series(1, len(e)),
                                     i -> {'dim': i - 1, 'val': e[i]}),
                      recursive := true)
        FROM v
    )
    SELECT label, dim,
           round(CAST(sum(CAST(val AS DECIMAL(28,8))) AS DOUBLE) / count(val), 6) AS mean_val,
           round(min(val), 6) AS min_val,
           round(max(val), 6) AS max_val
    FROM x
    GROUP BY label, dim
    """,
    doc="Per-(label, dimension) embedding distribution stats via "
    "posexplode + grouped agg with order-independent decimal means — "
    "the feature-drift / normalization-statistics pass over an "
    "array<float> column. One explode (rows x dims slim triples), one "
    "shuffle on the (label, dim) key.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .core import davg

    # plain load (r19 interleaved A/B: 0.36 s vs 0.63 s with the
    # round-robin — the partial agg after the explode is map-side
    # cheap; the exchange only added cost)
    emb = load_table(spark, sf_dir, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    # materialize the cast array in its own projection before exploding
    # (expression-duplication fence), posexplode_outer so the generate
    # isn't rewritten with an inferred size()>0 filter inlining vd
    ex = emb.select("label", vd.alias("e")).select(
        "label", F.posexplode_outer("e").alias("dim", "val")
    )
    return ex.groupBy("label", "dim").agg(
        trino_round(davg("val"), 6).alias("mean_val"),
        trino_round(F.min("val"), 6).alias("min_val"),
        trino_round(F.max("val"), 6).alias("max_val"),
    )


@register(
    "embedding_covariance",
    """
    WITH v AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    x AS (
        SELECT unnest(flatten(list_transform(generate_series(1, len(e)), i ->
                   list_transform(generate_series(1, len(e)), j ->
                       {'di': i - 1, 'dj': j - 1, 'p': e[i] * e[j],
                        'xi': e[i], 'xj': e[j]}))),
               recursive := true)
        FROM v
    ),
    s AS (
        SELECT di AS dim_i, dj AS dim_j, CAST(count(*) AS BIGINT) AS n,
               sum(CAST(p AS DECIMAL(38,12))) AS sp,
               sum(CAST(xi AS DECIMAL(38,12))) AS si,
               sum(CAST(xj AS DECIMAL(38,12))) AS sj
        FROM x GROUP BY 1, 2
    )
    SELECT dim_i, dim_j, n,
           round(CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(si AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(sj AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS cov
    FROM s
    """,
    doc="Exact d x d covariance of the embedding column (the PCA/"
    "whitening/feature-drift statistics pass): row-local outer products "
    "(pure higher-order functions) posexploded to (i, j) triples, ONE "
    "map-side-combined reduce to d^2 cells whose shuffle volume is "
    "O(tasks * d^2) — independent of row count. Decimal-fenced sums make "
    "the E[xy] - E[x]E[y] arithmetic bit-reproducible across engines.",
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.dimension_covariance(
        load_table_parallel(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation (quality -> dedup -> cap -> split)
# ---------------------------------------------------------------------------

_QEXPR = f"""(CASE WHEN len(toks) >= 10 AND len(toks) <= 100000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) >= 3
                        AND CAST(nc - (len(toks) - 1) AS DOUBLE) / len(toks) <= 12
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / nc <= 0.2
                       THEN 0.2 ELSE 0.0 END)
               + (CASE WHEN CAST(len(list_filter(toks, w -> lower(w) IN ({_EN}))) AS DOUBLE) / len(toks) >= 0.01
                       THEN 0.2 ELSE 0.0 END)"""


@register(
    "corpus_curation",
    f"""
    WITH t AS (
        SELECT doc_id, source, text, {TOKS} AS toks, len(text) AS nc FROM documents
    ),
    s AS (
        SELECT doc_id, source, text, CAST(len(toks) AS INTEGER) AS n_tokens,
               {_QEXPR} AS q
        FROM t
    ),
    hq AS (SELECT * FROM s WHERE q >= 0.8),
    canon AS (
        SELECT min(doc_id) AS cid
        FROM (
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
            FROM hq
        )
        GROUP BY h
    ),
    kept AS (
        SELECT hq.doc_id, hq.source, hq.n_tokens
        FROM hq JOIN canon ON hq.doc_id = canon.cid
    ),
    capped AS (
        SELECT doc_id, source, n_tokens,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY ({_HB.format(salt='cap')}) % 10000, doc_id
               ) AS rk
        FROM kept
    ),
    spl AS (
        SELECT source, n_tokens,
               CASE WHEN ({_HB.format(salt='split')}) % 10000 < 500 THEN 'val'
                    WHEN ({_HB.format(salt='split')}) % 10000 < 1000 THEN 'test'
                    ELSE 'train' END AS split
        FROM capped WHERE rk <= 200
    )
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM spl
    GROUP BY source, split
    """,
    doc="The flagship curation pipeline: quality filter -> exact dedup "
    "(canonical = min doc_id) -> per-source cap (hash reservoir) -> "
    "leak-proof split, rolled up to (source, split) doc/token totals. "
    "One corpus scan, two slim shuffles (digest groupBy + cap window); "
    "operators/curation.py fixes the stage order.",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curate_corpus, curation_summary

    # plain load (r19 A/B: 1.16 vs 1.34 s min — the pipeline's own
    # digest/cap shuffles redistribute anyway)
    return curation_summary(curate_corpus(load_table(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# Random projection + hybrid retrieval (RRF)
# ---------------------------------------------------------------------------

_RP_OUT, _RP_IN = 8, 64
_RP_SCALE = 1.0 / (float(_RP_OUT) ** 0.5)


def _rp_sql() -> str:
    signs = similarity._rp_signs(_RP_OUT, _RP_IN)
    sign_cols = ",\n".join(
        "[" + ", ".join(str(s) for s in signs[j]) + "] AS s{j}".format(j=j)
        for j in range(_RP_OUT)
    )
    projs = ",\n".join(
        f"((CAST(list_sum(list_transform(generate_series(1, {_RP_IN}),"
        f" i -> CAST(floor((e[i] * CAST(s{j}[i] AS DOUBLE)) * 1099511627776.0)"
        f" AS BIGINT))) AS DOUBLE) / 1099511627776.0) * {_RP_SCALE!r}) AS p{j}"
        for j in range(_RP_OUT)
    )
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    s AS (SELECT {sign_cols})
    SELECT vec_id,
    {projs}
    FROM v CROSS JOIN s
    """


@register(
    "embedding_random_projection",
    _rp_sql(),
    doc="Johnson-Lindenstrauss ±1 projection 64d -> 8 wide columns: the "
    "dimensionality-reduction front end for ANN/clustering. The sign "
    "matrix is driver-built md5 parity shipped as literals (no runtime "
    "hashing); each output dim is a row-local zip_with + exact 2^40 "
    "fixed-point integer fold (power-of-two scaling is FP-exact, so "
    "both engines floor identical values) — zero shuffle, fuses into "
    "the scan. Identical literal matrix rides into the oracle SQL.",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.random_projection(
        load_table_parallel(spark, sf_dir, "embeddings"),
        out_dim=_RP_OUT,
        in_dim=_RP_IN,
    )


_RRF_JAC = (
    "CAST(len(list_filter(toks, x -> list_contains(qt, x))) AS DOUBLE)"
    " / CAST(((len(toks) + len(qt))"
    " - len(list_filter(toks, x -> list_contains(qt, x)))) AS DOUBLE)"
)


@register(
    "hybrid_search_rrf",
    f"""
    WITH dt AS (
        SELECT doc_id, list_distinct({TOKS}) AS toks FROM documents
    ),
    q AS (SELECT toks AS qt FROM dt WHERE doc_id = 0),
    j AS (
        SELECT doc_id, round({_RRF_JAC}, 6) AS jac
        FROM dt CROSS JOIN q
    ),
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY jac DESC, doc_id) AS BIGINT) AS r0
        FROM j ORDER BY jac DESC, doc_id LIMIT 100
    ),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, e, list_sum(list_transform(e, x -> x * x)) AS nrm FROM v
    ),
    qv AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0),
    cos AS (
        SELECT vec_id AS doc_id,
               round({{dot}} / (sqrt(nrm) * sqrt(qn)), 6) AS score
        FROM n CROSS JOIN qv
    ),
    emb AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r1
        FROM cos ORDER BY score DESC, doc_id LIMIT 100
    )
    SELECT doc_id, r0 AS rank_0, r1 AS rank_1,
           round(COALESCE(1.0 / CAST((60 + r0) AS DOUBLE), 0.0)
                 + COALESCE(1.0 / CAST((60 + r1) AS DOUBLE), 0.0), 6) AS rrf
    FROM lex FULL OUTER JOIN emb USING (doc_id)
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """.format(dot="list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i]))"),
    doc="Hybrid search via reciprocal-rank fusion: top-100 lexical "
    "candidates (distinct-token Jaccard vs the query doc — row-local "
    "array ops against a 1-row broadcast) fused with top-100 embedding "
    "candidates (exact cosine) by 1/(60+rank). Fusion joins are "
    "candidate-sized — independent of corpus size; ranks come from "
    "TakeOrdered'd 100-row sets, never a global window.",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table_parallel(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.array_distinct(text.tokens(F.col("text"))).alias("toks")
    )
    q = dt.filter(F.col("doc_id") == 0).select(F.col("toks").alias("qt"))
    overlap = F.size(
        F.filter(F.col("toks"), lambda x: F.array_contains(F.col("qt"), x))
    )
    union = (F.size("toks") + F.size("qt")) - overlap
    jac = trino_round(
        overlap.cast("double") / union.cast("double"), 6
    )
    lex100 = (
        dt.join(F.broadcast(q))
        .select("doc_id", jac.alias("jac"))
        .orderBy(F.desc("jac"), F.asc("doc_id"))
        .limit(100)
    )
    w_lex = Window.orderBy(F.desc("jac"), F.asc("doc_id"))
    lex = lex100.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("rank")
    )
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos100 = similarity.cosine_topk(emb, qv, k=100)
    w_cos = Window.orderBy(F.desc("score"), F.asc("vec_id"))
    embr = cos100.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w_cos).cast("long").alias("rank"),
    )
    return similarity.rrf_fuse([lex, embr], id_col="doc_id", k=10, c=60)


_CONTAIN = (
    "len(list_intersect(a.grams, b.grams))"
    " / CAST(least(len(a.grams), len(b.grams)) AS DOUBLE)"
)


@register(
    "dedup_ngram_containment",
    f"""
    WITH {_NGRAM_GRAMS_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_shared,
           round({_CONTAIN}, 6) AS containment
    FROM g a
    JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE least(len(a.grams), len(b.grams)) > 0
      AND {_CONTAIN} >= 0.05
    """,
    doc="n-gram CONTAINMENT pairs (|A∩B| / min set size): the asymmetric "
    "dedup scorer that catches doc-in-doc duplication Jaccard's size "
    "penalty hides. Same inverted-index join core as dedup_ngram_jaccard "
    "(shared _gram_intersections path incl. the df-cap skew valve); no "
    "length-ratio prune — extreme size ratios ARE the signal. Threshold "
    "0.05 exercises the tail at synthetic-corpus overlap levels; "
    "production containment dedup runs ~0.8.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_containment_pairs(
        load_table_parallel(spark, sf_dir, "documents"),
        block_col="source",
        min_containment=0.05,
    )


@register(
    "sampling_token_budget",
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens,
               ({_HB.format(salt='budget')}) AS ord
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (
                 PARTITION BY source ORDER BY ord, doc_id
                 ROWS UNBOUNDED PRECEDING
               ) AS cum_tokens,
               CASE source
                 WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2500
                 WHEN 'src2' THEN 1500 ELSE 600 END AS budget
        FROM toks
    )
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum
    WHERE cum_tokens <= budget
    """,
    doc="Training-data recipe materialization under per-source TOKEN "
    "budgets ('4k tokens of src0, 2.5k of src1, ...'): per source, the "
    "md5-ordered document prefix whose running token total fits the "
    "budget — deterministic on any engine/parallelism, unbiased within "
    "source, exact at the boundary (no mid-document truncation). One "
    "window exchange keyed by source.",
)
def sampling_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample
    from ..operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    out = token_budget_sample(
        docs,
        key_col="doc_id",
        source_col="source",
        n_tokens_col="n_tokens",
        budgets={"src0": 4000, "src1": 2500, "src2": 1500},
        default_budget=600,
    )
    return out.select(
        "doc_id", "source", "n_tokens", F.col("cum_tokens").cast("long").alias("cum_tokens")
    )


@register(
    "dedup_cluster_survivors",
    f"""
    WITH RECURSIVE {_NGRAM_GRAMS_CTE},
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM g a
        JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE {_NGRAM_JACCARD} >= 0.2
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM p
    ),
    reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    ),
    cl AS (
        SELECT src AS id, least(src, min(dst)) AS cluster
        FROM reach GROUP BY src
    ),
    m AS (
        SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster,
               CAST(d.n_chars AS BIGINT) AS n_chars
        FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk
        FROM m
    )
    SELECT cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           min(CASE WHEN rk = 1 THEN doc_id END) AS survivor_id,
           min(CASE WHEN rk = 1 THEN n_chars END) AS survivor_chars
    FROM r GROUP BY cluster
    """,
    doc="The dedup APPLY step: near-dup pair graph -> connected components "
    "-> one canonical survivor per cluster (longest doc wins, lowest id "
    "breaks ties), singletons survive as their own cluster. This is the "
    "keep/drop decision a curation run executes after pairwise dedup; "
    "one window + one groupBy past the clustering, both keyed on the "
    "cluster id. Pair table shared with dedup_clusters via the session "
    "cache (the stored pipeline artifact).",
    prepare=_cluster_pairs,
)
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = dedup.connected_components(
        _cluster_pairs(spark, sf_dir), pointer_jumping=False
    )
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cluster_survivors(docs, clusters)


@register(
    "text_langid_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang, {TOKS} AS toks FROM documents),
    h AS (
        SELECT doc_id, lang,
           {_lang_hits_sql()}
        FROM t
    ),
    pred AS (
        SELECT lang AS true_lang, {_lang_pred_sql()} AS predicted_lang
        FROM h
    ),
    m AS (
        SELECT true_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    per AS (SELECT true_lang, sum(n) AS tot FROM m GROUP BY 1)
    SELECT m.true_lang, m.predicted_lang, m.n,
           round(CAST(m.n AS DOUBLE) / CAST(per.tot AS DOUBLE), 6) AS share
    FROM m JOIN per USING (true_lang)
    ORDER BY true_lang, predicted_lang
    """,
    doc="Language-ID confusion matrix: the lexicon-hit classifier's "
    "predictions against the corpus's stored labels, with per-true-"
    "language share — the evaluation pass run before trusting a "
    "heuristic classifier to route a 100 TB corpus. Classification is "
    "the same single projection as text_language_id; the matrix is "
    "one |langs|^2-bounded groupBy with margins as aggregates of it.",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    pred = text.language_id(docs).select(
        "doc_id", F.col("predicted_lang")
    )
    m = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    per = m.groupBy("true_lang").agg(F.sum("n").alias("_tot"))
    from ..functions.trino import trino_round

    return (
        m.join(F.broadcast(per), "true_lang")
        .select(
            "true_lang",
            "predicted_lang",
            "n",
            trino_round(
                F.col("n").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("true_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Round-13 wave 2: decontamination + fold-leakage audit
# ---------------------------------------------------------------------------

def _grams_n_sql(n: int) -> str:
    """DuckDB twin of the Spark n-gram window (same whitespace tokens,
    same de-dup) for arbitrary n — the 3-gram twin lives inline in
    ``_NGRAM_GRAMS_CTE``."""
    joins = " || ' ' || ".join(f"toks[i + {k}]" for k in range(1, n + 1))
    return (
        f"CASE WHEN len(toks) >= {n} THEN list_distinct(list_transform("
        f"generate_series(0, len(toks) - {n}), i -> {joins})) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


@register(
    "dedup_decontamination",
    f"""
    WITH t AS (
        SELECT doc_id, doc_id % 20 = 7 AS ev, {TOKS} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, ev, unnest({_grams_n_sql(8)}) AS gram FROM t
    ),
    eg AS (SELECT DISTINCT gram FROM g WHERE ev),
    h AS (
        SELECT g.doc_id, g.gram FROM g JOIN eg USING (gram) WHERE NOT ev
    )
    SELECT CAST((SELECT count(*) FROM t WHERE ev) AS BIGINT) AS n_eval,
           CAST((SELECT count(*) FROM t WHERE NOT ev) AS BIGINT) AS n_train,
           CAST((SELECT count(*) FROM eg) AS BIGINT) AS n_eval_grams,
           CAST((SELECT count(DISTINCT doc_id) FROM h) AS BIGINT)
               AS n_contaminated,
           CAST((SELECT count(DISTINCT gram) FROM h) AS BIGINT)
               AS n_flagged_grams,
           round((SELECT count(DISTINCT doc_id) FROM h)
                 / CAST((SELECT count(*) FROM t WHERE NOT ev) AS DOUBLE), 6)
               AS contamination_rate
    """,
    doc="Train/eval decontamination audit (PaLM/GPT-3-style benchmark-"
    "leak check): docs with doc_id % 20 == 7 stand in for the held-out "
    "eval set; a training doc is contaminated when it shares any "
    "distinct 8-word gram with any eval doc. Linear, never doc x doc: "
    "eval grams collapse to one distinct table and the exploded train "
    "grams equi-join it (a real eval set is benchmark-sized, so AQE "
    "broadcasts it under the corpus-side explode) "
    "(operators/dedup.py::decontamination_report).",
)
def dedup_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return dedup.decontamination_report(
        docs, F.col("doc_id") % 20 == 7, ngram=8
    )


@register(
    "sampling_fold_leakage",
    f"""
    WITH RECURSIVE lt AS (
        SELECT doc_id, lang, {TOKS} AS toks FROM documents
    ),
    lg AS (
        SELECT doc_id, lang, {_grams_n_sql(3)} AS grams FROM lt
    ),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM lg a
        JOIN lg b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE {_NGRAM_JACCARD} >= 0.2
    ),
    e AS (
        SELECT doc_a AS src, doc_b AS dst FROM p
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM p
    ),
    reach AS (
        SELECT src, dst FROM e
        UNION
        SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    ),
    cl AS (
        SELECT src AS id, least(src, min(dst)) AS cluster
        FROM reach GROUP BY src
    ),
    m AS (
        SELECT d.doc_id AS id, COALESCE(cl.cluster, d.doc_id) AS cluster,
               {MD5L.format(x="CAST(d.doc_id AS VARCHAR) || '|fold'")} % 10
                   AS f,
               {MD5L.format(x="CAST(COALESCE(cl.cluster, d.doc_id) AS VARCHAR) || '|fold'")} % 10
                   AS cf
        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
    ),
    cs AS (
        SELECT cluster, count(*) AS sz, count(DISTINCT f) AS nf
        FROM m GROUP BY 1
    ),
    agg AS (
        SELECT count(*) AS n_clusters, sum(sz) AS n_docs,
               count(*) FILTER (sz > 1) AS n_multi,
               count(*) FILTER (sz > 1 AND nf > 1) AS n_leaky,
               COALESCE(sum(sz) FILTER (sz > 1 AND nf > 1), 0)
                   AS n_docs_in_leaky
        FROM cs
    )
    SELECT CAST(10 AS INTEGER) AS n_folds,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_multi AS BIGINT) AS n_multi,
           CAST(n_leaky AS BIGINT) AS n_leaky,
           CAST(n_docs_in_leaky AS BIGINT) AS n_docs_in_leaky,
           COALESCE(round(n_leaky / CAST(nullif(n_multi, 0) AS DOUBLE), 6),
                    0.0) AS leak_rate,
           CAST((SELECT count(*) FROM m WHERE f <> cf) AS BIGINT)
               AS n_docs_reassigned
    FROM agg
    """,
    doc="K-fold leakage audit for near-dup corpora: the naive "
    "md5(doc_id) % 10 fold split is checked against the lang-blocked "
    "near-dup components (shared artifact with "
    "dedup_cluster_containment) — a multi-doc cluster whose members "
    "land in different folds leaks paraphrased training data into "
    "validation. Reports leaky clusters, affected docs, and the size "
    "of the cluster-aware repair (re-fold by cluster min id, which "
    "every member already carries — no second pass) "
    "(operators/sampling.py::fold_leakage_audit).",
    prepare=_containment_pairs,
)
def sampling_fold_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import fold_leakage_audit

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cc = dedup.connected_components(
        _containment_pairs(spark, sf_dir), pointer_jumping=False
    )
    return fold_leakage_audit(docs, cc, k=10)


@register(
    "text_gram_novelty",
    f"""
    WITH t AS (
        SELECT doc_id, source, {TOKS} AS toks FROM documents
    ),
    g AS (
        SELECT doc_id, source, unnest({_grams_n_sql(3)}) AS gram FROM t
    ),
    first AS (SELECT gram, min(doc_id) AS first_id FROM g GROUP BY 1),
    per_doc AS (
        SELECT g.doc_id, g.source,
               count(*) AS ng,
               sum(CASE WHEN f.first_id = g.doc_id THEN 1 ELSE 0 END) AS nn
        FROM g JOIN first f USING (gram)
        GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ng) AS BIGINT) AS n_grams,
           CAST(sum(nn) AS BIGINT) AS n_novel,
           round(sum(nn) / CAST(sum(ng) AS DOUBLE), 6) AS novelty_rate
    FROM per_doc GROUP BY 1 ORDER BY 1
    """,
    doc="Corpus novelty audit: per document, the share of its distinct "
    "3-grams appearing FIRST in that document (min doc_id owns the "
    "gram — deterministic, tie-free), rolled up per source — the "
    "'is this crawl still adding content' curve that decides when a "
    "source is mined out. Linear: one gram-keyed groupBy for first "
    "occurrences, one gram-keyed join back (AQE overlays the shared "
    "exchange), a per-doc ratio, a |sources|-row rollup; never "
    "doc x doc; docs shorter than the gram width carry no grams and "
    "are excluded (operators/dedup.py::gram_novelty).",
)
def text_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return dedup.gram_novelty(docs, group_col="source", ngram=3)


@register(
    "multimodal_audio_features",
    """
    WITH c AS (
        SELECT doc_id,
               list_transform(split(text, ''), ch -> ord(ch)) AS codes,
               greatest(len(text) // 4, 1) AS seg
        FROM documents WHERE len(text) > 0
    ),
    fr AS (
        SELECT doc_id,
               unnest(generate_series(0, least(3, len(codes) - 1))) AS frame_no,
               codes, seg
        FROM c
    ),
    sl AS (
        SELECT doc_id, frame_no,
               codes[frame_no * seg + 1 : frame_no * seg + seg] AS f
        FROM fr
    )
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           CAST(frame_no AS INTEGER) AS frame_no,
           CAST(len(f) AS INTEGER) AS n_samples,
           CAST(COALESCE(list_sum(list_transform(
                f, b -> (b - 128) * (b - 128))), 0) AS BIGINT) AS energy,
           CAST(COALESCE(list_sum(list_transform(
                generate_series(2, len(f)),
                j -> CASE WHEN (f[j] >= 128) <> (f[j - 1] >= 128)
                          THEN 1 ELSE 0 END)), 0) AS INTEGER)
               AS zero_crossings
    FROM sl
    """,
    doc="Audio feature plumbing — the third multimodal leg next to image "
    "decode and video frame sampling: payloads as unsigned 8-bit PCM, "
    "per-frame signal energy and zero-crossing counts through the "
    "explode-shaped mapInPandas seam "
    "(operators/multimodal.py::audio_frame_features). The arithmetic is "
    "real byte math (the harness corpus is pure-ASCII so per-character "
    "ord == per-byte value), so the oracle replays every frame's energy "
    "and crossing count exactly.",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    assets = docs.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return multimodal.audio_frame_features(assets)


@register(
    "multimodal_resize_thumbnail",
    """
    WITH c AS (
        SELECT doc_id,
               list_transform(split(text, ''), ch -> ord(ch)) AS codes,
               len(text) AS n
        FROM documents WHERE len(text) > 0
    ),
    t AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63),
                              i -> codes[least(i * greatest(n // 64, 1), n - 1) + 1])
                   AS thumb
        FROM c
    )
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           CAST(8 AS INTEGER) AS width,
           CAST(8 AS INTEGER) AS height,
           CAST(64 AS BIGINT) AS byte_length,
           list_aggregate(list_transform(thumb, b -> printf('%02x', b)),
                          'string_agg', '') AS thumb_hex
    FROM t
    """,
    doc="Thumbnail resize plumbing as a verified query: the strided "
    "byte-sampling resize (operators/multimodal.py::fake_resize — the "
    "exact mapInPandas signature/batch shape of a PIL resize, output "
    "bounded at thumbnail size) followed by binary_metadata's digest "
    "projection. The oracle reconstructs each 64-byte thumbnail from "
    "the same sampled positions, emits its hex — byte-for-byte "
    "parity on the binary payload itself, not just derived stats.",
)
def multimodal_resize_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plain load (r19 A/B: 0.40 vs 0.54 s)
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("text/plain").alias("media_type"),
    )
    resized = multimodal.fake_resize(assets, width=8, height=8)
    return resized.select(
        "asset_id",
        "width",
        "height",
        F.length("content").cast("bigint").alias("byte_length"),
        F.lower(F.hex("content")).alias("thumb_hex"),
    )


def _audio_bands_cte() -> str:
    """DuckDB replay of operators/multimodal.py::audio_energy_bands: the
    64 sub-segment energies, the mean threshold, and the 16-bit band
    packing (bit k of band j <- sub-segment 16j+k), over the same
    payload projection as multimodal_audio_features (pure-ASCII corpus:
    per-character ord == per-byte value)."""
    band = (
        "CAST(list_sum(list_transform(generate_series(0, 15), k -> "
        "CASE WHEN e[{off} + k + 1] > list_sum(e) / 64.0 "
        "THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS INTEGER)"
    )
    bands = ",\n               ".join(
        band.format(off=16 * j) + f" AS b{j}" for j in range(4)
    )
    return f"""
    WITH c AS (
        SELECT doc_id,
               list_transform(split(text, ''), ch -> ord(ch)) AS codes,
               greatest(len(text) // 64, 1) AS seg
        FROM documents WHERE len(text) > 0
    ),
    en AS (
        SELECT doc_id,
               list_transform(generate_series(0, 63), i ->
                   COALESCE(list_sum(list_transform(
                       codes[i * seg + 1 : i * seg + seg],
                       b -> (b - 128) * (b - 128))), 0)) AS e
        FROM c
    ),
    b AS (
        SELECT doc_id,
               {bands}
        FROM en
    )"""


@register(
    "dedup_audio_neardup",
    _audio_bands_cte()
    + """,
    e2 AS (
        SELECT doc_id, b0, b1, b2, b3, 0 AS band, b0 AS band_val FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 1, b1 FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 2, b2 FROM b
        UNION ALL SELECT doc_id, b0, b1, b2, b3, 3, b3 FROM b
    ),
    p AS (
        SELECT DISTINCT a.doc_id AS asset_a, z.doc_id AS asset_b,
               CAST(bit_count(xor(a.b0, z.b0)) + bit_count(xor(a.b1, z.b1))
                  + bit_count(xor(a.b2, z.b2)) + bit_count(xor(a.b3, z.b3))
                    AS INTEGER) AS hamming
        FROM e2 a
        JOIN e2 z ON a.band = z.band AND a.band_val = z.band_val
                 AND a.doc_id < z.doc_id
    )
    SELECT CAST(asset_a AS BIGINT) AS asset_a,
           CAST(asset_b AS BIGINT) AS asset_b,
           hamming
    FROM p WHERE hamming <= 8
    """,
    doc="Audio near-dup pairs — completes the audio family the way the "
    "image family was completed (pairs next to features), VERDICT r16 "
    "#5: payloads as unsigned 8-bit PCM, 64 sub-segment energies "
    "mean-thresholded into a 64-bit envelope fingerprint packed as 4 "
    "16-bit bands (operators/multimodal.py::audio_energy_bands, the "
    "Haitsma-Kalker shape), then the SAME Hamming-banded candidate "
    "equi-join the image hash uses (operators/dedup.py::"
    "hamming_banded_pairs — never cartesian, recall exact by pigeonhole "
    "at distance <= 3, LSH-approximate at the distance-8 threshold). "
    "Oracle replays the sub-segment energy arithmetic, the band "
    "packing, and the band self-join in SQL.",
)
def dedup_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    assets = docs.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    bands = multimodal.audio_energy_bands(assets)
    pairs = dedup.hamming_banded_pairs(
        bands, "asset_id", ["b0", "b1", "b2", "b3"], bits_per_band=16, max_hamming=8
    )
    return pairs.select(
        F.col("id_a").alias("asset_a"), F.col("id_b").alias("asset_b"), "hamming"
    )
