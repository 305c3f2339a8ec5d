"""Deduplication operators for training-data pipelines, at five levels of
fuzziness: exact, canonical-form, MinHash+LSH, SimHash, n-gram Jaccard,
and embedding-cosine near-dup.

Scale design (the point of each implementation):
- Exact/canonical: one hash-groupBy — map-side combine, a single shuffle
  on a short digest, never on the document text.
- MinHash+LSH: signatures are per-row projections (array higher-order
  functions over shingles — no explode, no shuffle); banding turns the
  O(n²) pair problem into an equi-join on band keys, which Spark executes
  as a shuffle on 16-byte digests. At 100 TB the only all-to-all traffic
  is (band_key, doc_id) pairs.
- SimHash: one explode + one hash-groupBy (map-side combinable sums).
- n-gram Jaccard / cosine near-dup: exact verification *within blocks*
  (source / coarse cluster) — the pattern is candidate-generation-first,
  exact-check-second; the block key keeps the join from going quadratic.

Downstream of pair generation: ``connected_components`` (min-label
propagation, optional pointer jumping) turns pairs into clusters,
``cluster_survivors`` executes the keep/drop decision, and
``lsh_precision`` measures candidate precision against exact n-gram
Jaccard — the est-threshold calibration read before dropping documents.
Exact substring machinery (``exact_substring_pairs`` /
``self_substring_spans`` / ``strip_spans``) covers the Lee et al. 2021
suffix-overlap family via window hashing, never all-pairs.

All hashing is md5-based (operators.hashing) so every step is
reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.trino import trino_round
from .hashing import affine_long, md5_long
from .text import gram_rows, tokens, word_ngrams


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content digest: one row per distinct normalized
    text, keeping the smallest id as canonical.

    Normalization: lowercase + whitespace collapse. Grouping happens on
    the md5 digest, so the shuffle carries 32 bytes per doc, not the text.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.col(id_col), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_duplicates"),
        )
    )


def content_digest(df: DataFrame, text_col: str = "text") -> Column:
    """The engine-wide exact-dedup digest: md5 of lowercased,
    whitespace-collapsed text (what ``exact_dedup`` groups on)."""
    return F.md5(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )


def incremental_exact_dedup(
    batch: DataFrame,
    seen_digests: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup an incoming batch against an existing corpus — the steady-state
    shape of a training-data pipeline (the full corpus was deduped once;
    every new crawl/delivery dedups against the accumulated digest store,
    never against the full text).

    Returns ``(fresh, digests)``: ``fresh`` is the batch minus
    within-batch duplicates (smallest id canonical) minus anything whose
    digest is already in ``seen_digests`` (a 1-column ``content_hash``
    table); ``digests`` is the batch's new digests to append to the
    store. Two shuffles, both carrying 32-byte digests: the within-batch
    groupBy and the anti-join against the store (which at scale is a
    bucketed/partitioned table on content_hash, making the anti-join
    zero-exchange on the store side). Pass ``seen_digests=None`` for the
    bootstrap run.
    """
    hashed = batch.withColumn("content_hash", content_digest(batch, text_col))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    w_batch = (
        hashed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    if seen_digests is not None:
        w_batch = w_batch.join(
            seen_digests.select("content_hash"), "content_hash", "left_anti"
        )
    fresh = w_batch.select(*batch.columns)
    digests = w_batch.select("content_hash")
    return fresh, digests


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def shingles(col: Column | str, n: int = 5) -> Column:
    """Character n-gram shingle array (empty when the text is shorter
    than one shingle)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - (n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 5,
) -> DataFrame:
    """Per-document MinHash signature: sig_j = min over shingles of
    hash_j(shingle), one column per hash.

    A per-row projection — array_min over transformed shingle arrays, no
    explode and no shuffle; at scale this is pure mapper work fused into
    the document scan. Cost control: the base hash is a rolling
    polynomial over code points (the winnowing k-gram hash — integer
    ops, no per-shingle string allocation or digest; ~2x vs the md5
    form), then num_hashes cheap affine rehashes (the classic
    one-base-hash MinHash family). Distinctness is free: min over all
    positions equals min over the distinct shingle set, so duplicate
    shingles never need removing. Base hashes are materialized in an
    intermediate projection so the per-position work isn't re-evaluated
    per signature column.
    """
    from .text import _POLY_BASE

    c = F.col(text_col)
    codes = F.when(
        F.length(c) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.ascii(c.substr(i, F.lit(1))).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))

    def _kgram(i):
        poly = F.element_at(F.col("_codes"), i)
        for j in range(1, shingle_size):
            poly = poly * _POLY_BASE + F.element_at(F.col("_codes"), i + j)
        return affine_long(poly, 0)

    pos_hashes = F.when(
        F.size("_codes") >= shingle_size,
        F.transform(
            F.sequence(F.lit(1), F.size("_codes") - (shingle_size - 1)), _kgram
        ),
    ).otherwise(F.array().cast("array<long>"))

    def _seeded(j):
        # closure (not default-arg capture): PySpark counts the lambda's
        # parameters to build the higher-order function
        return lambda h: affine_long(h, j)

    base = df.select(F.col(id_col), codes.alias("_codes")).select(
        F.col(id_col), pos_hashes.alias("_base_hashes")
    )
    sig_cols = [
        F.array_min(F.transform(F.col("_base_hashes"), _seeded(j))).alias(f"sig{j}")
        for j in range(num_hashes)
    ]
    return base.select(F.col(id_col), *sig_cols)


def band_table(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature table into its LSH band rows:
    (id, sig0..sigN, band, band_digest).

    Single-pass banding: posexplode over the array of band digests, so
    the (expensive) signature computation is evaluated once per
    document, not once per band as a union of branches would.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands ({bands}); "
            "a remainder would silently drop trailing signature columns from "
            "banding and reduce candidate recall"
        )
    rows_per_band = num_hashes // bands
    digests = [
        F.md5(
            F.concat_ws(
                "-",
                *[
                    F.col(f"sig{j}").cast("string")
                    for j in range(b * rows_per_band, (b + 1) * rows_per_band)
                ],
            )
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col),
        *[F.col(f"sig{j}") for j in range(num_hashes)],
        F.posexplode(F.array(*digests)).alias("band", "band_digest"),
    )


def minhash_lsh_probe(
    new_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    min_jaccard_est: float = 0.5,
) -> DataFrame:
    """Incremental near-dup detection: probe a NEW batch's MinHash
    signatures against a STORED signature index, emitting
    (new_doc, index_doc, jaccard_est) for candidates meeting the
    estimate threshold.

    The production shape for a growing corpus: signatures are computed
    once per document at ingest and persisted (num_hashes longs per doc
    — the index is ~0.01% of a 100 TB text corpus); each incoming batch
    re-hashes only its own documents and band-joins against the stored
    index, so incremental dedup cost is O(batch) + a band-bucket join,
    never a corpus re-scan. Within-batch duplicates are NOT emitted
    here — dedupe the batch against itself with
    :func:`minhash_lsh_pairs` first, then probe the survivors.

    Both inputs are signature tables (``minhash_signatures`` output);
    the asymmetric join keeps (new, index) orientation, no ``<`` tie
    break needed since the sides are disjoint.
    """
    left = band_table(new_sigs, id_col, num_hashes, bands).select(
        F.col(id_col).alias("new_doc"),
        "band",
        "band_digest",
        *[F.col(f"sig{j}").alias(f"a_sig{j}") for j in range(num_hashes)],
    )
    right = band_table(index_sigs, id_col, num_hashes, bands).select(
        F.col(id_col).alias("index_doc"),
        "band",
        "band_digest",
        *[F.col(f"sig{j}").alias(f"b_sig{j}") for j in range(num_hashes)],
    )
    pairs = (
        left.join(right, ["band", "band_digest"])
        .select(
            "new_doc",
            "index_doc",
            *[F.col(f"a_sig{j}") for j in range(num_hashes)],
            *[F.col(f"b_sig{j}") for j in range(num_hashes)],
        )
        .distinct()
    )
    agreement = sum(
        F.when(F.col(f"a_sig{j}") == F.col(f"b_sig{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    return (
        pairs.withColumn(
            "jaccard_est", agreement.cast("double") / F.lit(float(num_hashes))
        )
        .filter(F.col("jaccard_est") >= min_jaccard_est)
        .select("new_doc", "index_doc", "jaccard_est")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_size: int = 5,
    bands: int = 4,
    min_jaccard_est: float = 0.5,
    banded: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs with estimated Jaccard.

    shingle -> minhash -> band digest -> equi-join on (band, digest) ->
    distinct candidate pairs -> signature-agreement estimate, keeping
    pairs with est >= ``min_jaccard_est``. The band join is the scale
    path: candidates only ever meet inside a band bucket.

    ``banded``: a precomputed ``band_table`` output (id, band,
    band_digest, sig0..sigN-1) to join against instead of re-deriving
    signatures from ``df`` — pass the persisted index when one exists
    (the production shape; the harness's dedup-evaluation queries share
    one per session).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands ({bands}); "
            "a remainder would silently drop trailing signature columns from "
            "banding and reduce candidate recall"
        )
    if banded is None:
        # localCheckpoint the signature table (tiny: num_hashes longs per
        # doc): the self-join would otherwise recompute the whole
        # shingle/md5 pipeline for each side — measured 2.2x at sf0.1.
        # It makes the call eager; in production the signature table is
        # written out once and reused across runs anyway.
        sigs = minhash_signatures(
            df, text_col, id_col, num_hashes, shingle_size
        ).localCheckpoint()

        banded = band_table(sigs, id_col, num_hashes, bands)

    left = banded.select(
        F.col(id_col).alias("doc_a"),
        "band",
        "band_digest",
        *[F.col(f"sig{j}").alias(f"a_sig{j}") for j in range(num_hashes)],
    )
    right = banded.select(
        F.col(id_col).alias("doc_b"),
        "band",
        "band_digest",
        *[F.col(f"sig{j}").alias(f"b_sig{j}") for j in range(num_hashes)],
    )
    agreement = sum(
        F.when(F.col(f"a_sig{j}") == F.col(f"b_sig{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    # Compute the estimate BEFORE de-duplicating band collisions: the
    # signatures are constant per doc, so the estimate is constant per
    # pair, and the distinct then shuffles 3 narrow columns instead of
    # 2 + 2*num_hashes sig longs — at 10^6 candidate rows that is the
    # dominant exchange of the whole operator.
    return (
        left.join(right, ["band", "band_digest"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (agreement.cast("double") / F.lit(float(num_hashes))).alias(
                "jaccard_est"
            ),
        )
        .filter(F.col("jaccard_est") >= min_jaccard_est)
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """Token-level SimHash: bit i of the digest is the sign of the sum of
    (2·bit_i(hash(token)) − 1) over all tokens (multiset semantics).

    Explode + hash-groupBy with ``bits`` conditional sums — fully
    map-side-combinable, one shuffle keyed by doc id.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    h = md5_long(F.col("token"))
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*sums)
    digest = sum(
        F.when(F.col(f"s{i}") >= 0, F.lit(2**i)).otherwise(0) for i in range(bits)
    )
    return agg.select(F.col(id_col), digest.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Blocked exact-verification dedup (n-gram Jaccard, embedding cosine)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_jaccard: float = 0.2,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard within blocks: |A∩B| / |A∪B| over the
    distinct n-gram sets of each pair sharing ``block_col``.

    Executed as an inverted-index set-similarity join, not a quadratic
    within-block cross join: explode the distinct grams, equi-join on
    (block, gram) so only pairs sharing at least one gram ever meet,
    count shared grams per pair (|A∩B|), and derive the union from the
    set sizes (|A∪B| = |A| + |B| − |A∩B|). A length-ratio prune
    (J ≤ min(|A|,|B|)/max(|A|,|B|)) discards hopeless pairs before the
    aggregation. Results are identical to the naive cross-join form for
    any ``min_jaccard > 0`` because J ≥ t > 0 implies a shared gram; at
    ``min_jaccard == 0`` pairs with an empty intersection (J = 0) are
    omitted rather than emitted with a 0.0 score.

    ``max_gram_df`` is the skew valve for the posting-list join: each
    (block, gram) posting list joins with itself, which is O(df²) per
    gram — one boilerplate gram shared by 10⁵ docs in a block would emit
    10¹⁰ candidate rows. Setting a document-frequency cap drops grams
    with df > cap from the *join* (set sizes stay exact), the standard
    move in set-similarity joins. The trade is explicit: intersection
    counts can only shrink, so reported Jaccard becomes a lower bound
    and pairs whose overlap lives mostly in ultra-common grams may fall
    below the threshold. Pairs of near-duplicates keep most of their
    (by definition rarer) distinctive grams, so high-Jaccard recall
    degrades last. ``None`` (default) = exact.
    """
    inter = _gram_intersections(
        df, block_col, text_col, id_col, ngram, max_gram_df,
        # length-ratio prune before the aggregation: J ≥ t implies
        # min(|A|,|B|)/max(|A|,|B|) ≥ t — valid for Jaccard only
        prune=(
            F.least("sz_a", "sz_b").cast("double")
            >= F.lit(min_jaccard) * F.greatest("sz_a", "sz_b")
        ),
        id_col_out=("doc_a", "doc_b"),
    )
    jaccard = F.col("n_shared").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_shared")
    )
    return (
        inter.filter(jaccard >= min_jaccard)
        .select("doc_a", "doc_b", trino_round(jaccard, 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    min_containment: float = 0.6,
    max_gram_df: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT within blocks:
    ``|A∩B| / min(|A|, |B|)`` — the asymmetric twin of Jaccard that
    catches doc-in-doc duplication (quotes, wholesale inclusion,
    boilerplate wrappers around copied bodies), where the smaller doc's
    grams live almost entirely inside the larger one but the size gap
    crushes Jaccard below any usable threshold.

    Same inverted-index set-similarity join as
    :func:`ngram_jaccard_pairs` (shared code path, same ``max_gram_df``
    skew valve); the length-ratio prune does NOT apply — high
    containment is exactly the extreme-size-ratio regime — so the only
    candidate cut is sharing ≥ 1 gram, which ``C ≥ t > 0`` guarantees.
    """
    inter = _gram_intersections(
        df, block_col, text_col, id_col, ngram, max_gram_df,
        prune=None, id_col_out=("doc_a", "doc_b"),
    )
    containment = F.col("n_shared").cast("double") / F.least(
        "sz_a", "sz_b"
    ).cast("double")
    return (
        inter.filter(containment >= min_containment)
        .select(
            "doc_a", "doc_b", "n_shared",
            trino_round(containment, 6).alias("containment"),
        )
    )


def _gram_intersections(
    df: DataFrame,
    block_col: str,
    text_col: str,
    id_col: str,
    ngram: int,
    max_gram_df: int | None,
    prune,
    id_col_out: tuple[str, str],
):
    """Shared inverted-index core: (doc_a, doc_b, sz_a, sz_b, n_shared)
    for every within-block pair sharing ≥ 1 distinct word-n-gram."""
    # gram_rows' projection discipline (see there), with its own explode
    # so sz is computed beside it from the already-projected gram array;
    # the inner equi-join on `gram` drops the null rows explode_outer
    # gives an empty array.
    base = (
        df.select(
            F.col(id_col),
            F.col(block_col).alias("block"),
            tokens(text_col).alias("_toks"),
        )
        .select(
            F.col(id_col), "block", word_ngrams(F.col("_toks"), ngram).alias("grams")
        )
        .select(
            F.col(id_col),
            "block",
            # coalesce makes sz statically non-nullable: otherwise the
            # null-intolerant prune predicate lets constraint propagation
            # infer isnotnull(sz) and push it to the scan with the whole
            # gram pipeline inlined (gram_rows' blowup via another rule)
            F.coalesce(F.size("grams"), F.lit(-1)).alias("sz"),
            F.explode_outer("grams").alias("gram"),
        )
    )
    if max_gram_df is not None:
        # Drop hot grams before the self-join — WITHOUT a second pass over
        # the gram pipeline. A count() over a (block, gram) window rides
        # the exact exchange the self-join needs anyway: the expensive
        # tokenize+explode feeds ONE shuffle on (block, gram), both join
        # sides reuse it (ReusedExchange), and the df filter is a cheap
        # post-shuffle projection. The previous groupBy+left_semi form
        # re-derived the explode for the df aggregate and added a second
        # join (1.6x slower end-to-end at sf0.1).
        gram_df = Window.partitionBy("block", "gram")
        base = base.withColumn("_df", F.count("*").over(gram_df)).filter(
            F.col("_df") <= max_gram_df
        ).drop("_df")
    na, nb = id_col_out
    a = base.select(
        F.col(id_col).alias(na), "block", F.col("sz").alias("sz_a"), "gram"
    )
    b = base.select(
        F.col(id_col).alias(nb), "block", F.col("sz").alias("sz_b"), "gram"
    )
    joined = a.join(b, ["block", "gram"]).filter(F.col(na) < F.col(nb))
    if prune is not None:
        joined = joined.filter(prune)
    return joined.groupBy(na, nb, "sz_a", "sz_b").agg(
        F.count("*").alias("n_shared")
    )


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better"): find verbatim cross-document token
# spans of length >= L by hashing every k-token window and growing runs
# of consecutive window matches — the suffix-array result re-expressed
# as a window-hash equi-join, which is the shape that distributes.
# ---------------------------------------------------------------------------


def exact_substring_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 8,
    min_overlap_tokens: int = 12,
    max_window_df: int | None = 100,
) -> DataFrame:
    """Verbatim cross-document overlaps: one row per maximal shared token
    span of length >= ``min_overlap_tokens``, as
    (doc_a, doc_b, a_start, b_start, overlap_tokens) with 1-based token
    positions and doc_a < doc_b.

    Method: hash every ``window_tokens``-token window (md5 of the
    space-joined tokens — oracle-reproducible), equi-join windows across
    documents on the hash, then gaps-and-islands per (pair, diagonal):
    a run of m consecutive window matches with the same position offset
    is a verbatim span of m + k - 1 tokens. A span of exactly L tokens
    yields L - k + 1 consecutive matches, so every span >= L survives
    and spans < k are invisible by construction (set k <= L).

    Scale ledger (the reason this isn't a suffix array): candidates only
    ever meet inside a window-hash bucket, and ``max_window_df`` drops
    boilerplate windows hotter than the cap BEFORE the self-join — the
    join is never quadratic beyond df_cap² per bucket. The df count()
    window rides the same (wh) exchange both join sides need
    (ReusedExchange — same trick as ``_gram_intersections``); the
    islands row_number shuffles on (doc_a, doc_b, diag) and the span
    groupBy reuses that partitioning (its keys are a superset). Shuffled
    payload is (wh 32B, doc_id, pos) — never the text. At 100 TB the cap
    is also the skew valve: a viral boilerplate paragraph becomes a
    single hot bucket without it.

    NB: truncation semantics of the cap — spans whose EVERY window is
    hotter than the cap are dropped (a >cap-duplicated span is exactly
    the boilerplate the cap exists to ignore); spans with at least one
    sub-cap window survive in clipped form.
    """
    base = _window_table(
        df, text_col, id_col, window_tokens, min_overlap_tokens, max_window_df
    )
    k = window_tokens
    a = base.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pos_a"), "wh"
    )
    b = base.select(
        F.col(id_col).alias("doc_b"), F.col("pos").alias("pos_b"), "wh"
    )
    matches = (
        a.join(b, "wh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    # islands: consecutive pos_a on one diagonal share (pos_a - row_number)
    isl = matches.withColumn(
        "_island",
        F.col("pos_a")
        - F.row_number().over(
            Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
        ),
    )
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "_island")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            (F.count("*") + (k - 1)).cast("bigint").alias("overlap_tokens"),
        )
        .filter(F.col("overlap_tokens") >= min_overlap_tokens)
        .select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            F.col("a_start").cast("bigint").alias("a_start"),
            F.col("b_start").cast("bigint").alias("b_start"),
            "overlap_tokens",
        )
    )


def _window_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int,
    min_overlap_tokens: int,
    max_window_df: int | None,
) -> DataFrame:
    """Shared (id, pos, wh) window-hash table for the substring-dedup
    family: one md5 per k-token window, 1-based positions, df-capped.

    Same projection discipline as :func:`~.text.gram_rows` (see there
    for why), with posexplode_outer for the positions; the inner
    equi-join on wh drops the null rows empty arrays produce.
    element_at is O(1) per token on the materialized array; slice()
    would copy k elements per position.
    """
    k = window_tokens
    if k < 2:
        raise ValueError(f"window_tokens must be >= 2, got {k}")
    if min_overlap_tokens < k:
        raise ValueError(
            f"min_overlap_tokens ({min_overlap_tokens}) must be >= "
            f"window_tokens ({k}); shorter spans produce no window match"
        )
    toks = F.col("_toks")
    win_hashes = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), win_hashes.alias("_whs"))
        .select(F.col(id_col), F.posexplode_outer("_whs").alias("_pos0", "wh"))
        .select(F.col(id_col), (F.col("_pos0") + 1).alias("pos"), "wh")
    )
    if max_window_df is not None:
        wdf = Window.partitionBy("wh")
        base = (
            base.withColumn("_df", F.count("*").over(wdf))
            .filter(F.col("_df") <= max_window_df)
            .drop("_df")
        )
    return base


def self_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 8,
    min_overlap_tokens: int = 12,
    max_window_df: int | None = 100,
) -> DataFrame:
    """WITHIN-document verbatim repetition (the self-dedup half of Lee
    et al. 2021): one row per maximal repeated token span inside a
    single document, as (doc_id, first_start, repeat_start,
    overlap_tokens), repeat_start > first_start, 1-based positions.

    Same machinery as ``exact_substring_pairs`` with the join keyed on
    (id, wh) and pos_a < pos_b; islands form per (id, diagonal).
    Periodic text ("a b a b a b") yields overlapping spans per period —
    stripping keeps the first period (see ``strip_self_repeats``).
    Scale: the self-join meets only within (id, wh) buckets, so a
    document's cost is bounded by its own repeated-window count; the
    df cap still guards corpus-wide boilerplate windows.
    """
    base = _window_table(
        df, text_col, id_col, window_tokens, min_overlap_tokens, max_window_df
    )
    k = window_tokens
    a = base.select(
        F.col(id_col), F.col("pos").alias("pos_a"), "wh"
    )
    b = base.select(
        F.col(id_col), F.col("pos").alias("pos_b"), "wh"
    )
    matches = (
        a.join(b, [id_col, "wh"])
        .filter(F.col("pos_a") < F.col("pos_b"))
        .select(
            id_col,
            "pos_a",
            "pos_b",
            (F.col("pos_b") - F.col("pos_a")).alias("diag"),
        )
    )
    isl = matches.withColumn(
        "_island",
        F.col("pos_a")
        - F.row_number().over(
            Window.partitionBy(id_col, "diag").orderBy("pos_a")
        ),
    )
    return (
        isl.groupBy(id_col, "diag", "_island")
        .agg(
            F.min("pos_a").alias("first_start"),
            F.min("pos_b").alias("repeat_start"),
            (F.count("*") + (k - 1)).cast("bigint").alias("overlap_tokens"),
        )
        .filter(F.col("overlap_tokens") >= min_overlap_tokens)
        .select(
            F.col(id_col).cast("bigint").alias(id_col),
            F.col("first_start").cast("bigint").alias("first_start"),
            F.col("repeat_start").cast("bigint").alias("repeat_start"),
            "overlap_tokens",
        )
    )


def strip_self_repeats(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply within-doc dedup: remove each repeated span's LATER copy
    (keep-first), reusing the interval-merge machinery of
    ``strip_duplicate_spans`` with the repeat occurrence as the removal
    target."""
    return strip_duplicate_spans(
        df,
        spans.select(
            F.col(id_col).alias("doc_b"),
            F.col("repeat_start").alias("b_start"),
            "overlap_tokens",
        ),
        text_col=text_col,
        id_col=id_col,
    )


def strip_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply exact substring dedup (the second half of Lee et al. 2021):
    remove every duplicated span from the HIGHER-id document of each
    pair, keeping the lowest-id copy — the keep-first policy that turns
    ``exact_substring_pairs`` output into a cleaned corpus.

    ``spans`` is ``exact_substring_pairs`` output; the tokens at
    [b_start, b_start + overlap_tokens - 1] are dropped from doc_b.
    Overlapping removal ranges from different partners are merged first
    (gaps-and-islands over a running interval-end max), then each doc's
    tokens are filtered against its own merged-interval list with array
    HOFs — per-doc work is O(tokens x intervals), interval counts are
    small by construction.

    Returns every input row as (id, text, n_tokens_removed): untouched
    docs pass through with 0 (left join against the interval table, one
    shuffle on doc id; the interval merge shuffles once on doc_b).
    """
    ivs = spans.select(
        F.col("doc_b").alias("_id"),
        F.col("b_start").alias("_s"),
        (F.col("b_start") + F.col("overlap_tokens") - 1).alias("_e"),
    )
    w = Window.partitionBy("_id").orderBy("_s", "_e")
    # running max end over STRICTLY preceding intervals; a new island
    # starts when this interval begins past everything seen so far
    prev_max_e = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ivs.select(
        "_id",
        "_s",
        "_e",
        F.when(prev_max_e.isNull() | (F.col("_s") > prev_max_e), F.lit(1))
        .otherwise(F.lit(0))
        .alias("_new"),
    )
    grp = F.sum("_new").over(
        Window.partitionBy("_id")
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        flagged.select("_id", "_s", "_e", grp.alias("_g"))
        .groupBy("_id", "_g")
        .agg(F.min("_s").alias("s"), F.max("_e").alias("e"))
        .groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("_ivs")
        )
    )
    toks_df = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).join(merged, F.col(id_col) == F.col("_id"), "left")
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda t, i: F.struct(t.alias("t"), (i + 1).alias("pos")),
        ),
        lambda x: ~F.exists(
            F.col("_ivs"),
            lambda iv: (x["pos"] >= iv["s"]) & (x["pos"] <= iv["e"]),
        ),
    )
    return toks_df.select(
        F.col(id_col),
        F.when(
            F.col("_ivs").isNull(), F.concat_ws(" ", F.col("_toks"))
        )
        .otherwise(
            F.concat_ws(
                " ", F.transform(kept, lambda x: x["t"])
            )
        )
        .alias(text_col),
        F.coalesce(
            F.aggregate(
                F.col("_ivs"),
                F.lit(0).cast("bigint"),
                lambda acc, iv: acc + iv["e"] - iv["s"] + 1,
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_tokens_removed"),
    )


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two double vectors via a sequential fold
    (deterministic accumulation order, engine-reproducible)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def vec_norms(df: DataFrame, vec_col: str, keep: list[str]) -> DataFrame:
    """Project ``keep`` + the vector as doubles (column ``v``) + its squared
    norm (column ``nrm``, non-nullable).

    Norms are per-vector, so computing them *before* a pairwise join means
    each pair pays only the dot product — the norm fold would otherwise
    run twice per pair. Two-step select so the double-cast array is
    materialized once, not re-derived by each downstream expression;
    coalesce makes nrm statically non-nullable so null-intolerant
    predicates on it can't be constraint-pushed to the scan with the fold
    inlined.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(*keep, vd.alias("v")).select(
        *keep,
        "v",
        F.coalesce(
            F.aggregate(
                F.transform(F.col("v"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            F.lit(-1.0),
        ).alias("nrm"),
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float vectors, accumulated in double via a
    sequential fold (deterministic, engine-reproducible).

    Per-pair form (recomputes both norms); pairwise operators should use
    ``vec_norms`` + ``dot_product`` so norms are computed once per vector.
    """
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    na = F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    nb = F.aggregate(F.transform(bd, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    return dot_product(ad, bd) / (F.sqrt(na) * F.sqrt(nb))


def embedding_cosine_pairs(
    df: DataFrame,
    block_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs: exact cosine within blocks (e.g. a coarse
    IVF cluster id) — candidate-generation via blocking, exact check on
    the survivors. Norms are precomputed per vector (see ``vec_norms``);
    each candidate pair costs one zip_with fold."""
    base = vec_norms(
        df.withColumnRenamed(block_col, "block"), vec_col, [id_col, "block"]
    )
    a = base.select(
        F.col(id_col).alias("id_a"), "block", F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = base.select(
        F.col(id_col).alias("id_b"), "block", F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    cos = F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot_product(F.col("va"), F.col("vb")))
        .filter(cos >= min_cosine)
        .select("id_a", "id_b", trino_round(cos, 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Pair graph -> duplicate clusters (iterative)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 25,
    pointer_jumping: bool = True,
    local_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph by iterative
    min-label propagation: every node repeatedly adopts the smallest label
    among itself and its neighbors until fixpoint. Output: (id, cluster),
    cluster = min id in the component — the canonical-document assignment
    that turns pairwise dedup output into keep/drop decisions.

    Scale notes: each iteration is one shuffle join + aggregation on the
    node key; with ``pointer_jumping`` (default) each round adds a
    compression join (label <- min(label, label-of-label)) that turns
    plain O(diameter) propagation into O(log diameter) rounds. Measured
    at sf0.1 (r8): chain-shaped ER graphs drop 8 rounds / 5.6 s to
    4.5 s, while DENSE near-dup clusters (2-3 rounds either way) pay
    the extra join for nothing — pass ``pointer_jumping=False`` for
    graphs known to be dense and shallow (``dedup_clusters`` does).
    localCheckpoint() per iteration truncates the lineage — without it
    the plan doubles every pass. The only driver traffic is the one-row
    convergence count.

    Raises ``RuntimeError`` if ``max_iter`` is exhausted before fixpoint
    (a silent partial result would split long-diameter clusters with no
    signal to the caller); raise ``max_iter`` for path-like graphs.

    Small-graph fast path: when the deduplicated edge list has at most
    ``local_edges`` rows (known AFTER blocking/LSH pruning has already
    shrunk it to near-linear in the duplicate count — not corpus size),
    the iterative loop's ~5 jobs/round fixed overhead dwarfs the work,
    so a single Arrow-batched union-find pass over one coalesced
    partition computes the same min-id labels in one job. Ids are
    code-compressed via sorted uniques into an int64 numpy parent
    array (~8 B/id); the find/union loop itself is pure Python over
    the edge codes, so at the 2M-edge cap the pass costs a few
    seconds of one worker's CPU plus the edge/id arrays' memory
    (tens of MB for int ids; string ids add the unique-string table)
    — sized to one worker, never the driver; the result is
    order-independent
    (roots only ever decrease, so every component resolves to its min
    id regardless of edge order). Pass ``local_edges=0`` to force the
    distributed loop; graphs above the threshold take it automatically,
    which is the 100 TB path.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # Partition on the per-round join key BEFORE checkpointing:
        # localCheckpoint preserves outputPartitioning, so every
        # iteration's edges-by-dst join reuses this layout and only the
        # (smaller) label table shuffles per round (r12 perf pass).
        .repartition(F.col("dst"))
        .localCheckpoint()
    )
    if local_edges and edges.count() <= local_edges:
        id_type = edges.schema["src"].dataType.simpleString()

        def _union_find(batches):
            import numpy as np
            import pandas as pd

            srcs, dsts = [], []
            for pdf in batches:
                srcs.append(pdf["src"].to_numpy())
                dsts.append(pdf["dst"].to_numpy())
            if not srcs:
                return
            s = np.concatenate(srcs)
            d = np.concatenate(dsts)
            # sorted uniques -> code order == id order, so min-code root
            # IS the min-id root (holds for ints and strings alike)
            uniq, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
            # int64 numpy parent table (~8 B/id, ADVICE r12); the loop
            # iterates Python ints (.tolist()) to avoid per-access
            # np.int64 boxing
            parent = np.arange(len(uniq), dtype=np.int64)

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != x:
                    parent[x], x = root, int(parent[x])
                return root

            a = inv[: len(s)].tolist()
            b = inv[len(s):].tolist()
            for i in range(len(a)):
                ra, rb = find(a[i]), find(b[i])
                if ra != rb:
                    # attach the larger root under the smaller so the
                    # final root of every component is its min id
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            roots = np.fromiter(
                (find(i) for i in range(len(uniq))), dtype=np.int64
            )
            yield pd.DataFrame({"id": uniq, "cluster": uniq[roots]})

        return edges.coalesce(1).mapInPandas(
            _union_find, schema=f"id {id_type}, cluster {id_type}"
        )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("dl")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dl").alias("nbr_label"))
        )
        # Carry the pre-step label through the round so convergence is a
        # filter over the checkpointed frame, not an extra new-vs-old
        # shuffle join per iteration (r12 perf pass).
        stepped = labels.join(
            nbr_min, labels["id"] == nbr_min["src"], "left"
        ).select(
            F.col("id"),
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias(
                "label"
            ),
        )
        if pointer_jumping:
            # follow the label one more hop (label of my label) —
            # min-labels only shrink, so this is safe and collapses
            # chains exponentially
            parent = stepped.select(
                F.col("id").alias("label"), F.col("label").alias("_plabel")
            )
            stepped = stepped.join(parent, "label", "left").select(
                "id",
                "_old",
                F.least(F.col("label"), F.coalesce("_plabel", "label")).alias(
                    "label"
                ),
            )
        new_labels = stepped.localCheckpoint()
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"iterations ({changed} labels still changing); the graph has a "
            "longer diameter than expected — raise max_iter"
        )
    return labels.select(F.col("id"), F.col("label").alias("cluster"))


def cluster_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "n_chars",
) -> DataFrame:
    """The dedup APPLY step: given the full document table and a
    (id, cluster) assignment covering the documents that appear in at
    least one near-dup pair, pick ONE canonical survivor per cluster —
    highest ``score_col`` wins, lowest id breaks ties — and report the
    member count. Documents absent from ``clusters`` are singletons
    (their own cluster, trivially surviving).

    One broadcast-or-shuffle join on the id, then a window + groupBy
    both keyed on the cluster id — nothing scales worse than the
    clustering that produced the input. Output: ``cluster, n_members,
    survivor_id, survivor_chars``.
    """
    m = (
        docs.select(id_col, F.col(score_col).cast("long").alias("_score"))
        .join(clusters.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
            "_score",
        )
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("_score"), F.asc(id_col))
    r = m.withColumn("_rk", F.row_number().over(w))
    return r.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min(F.when(F.col("_rk") == 1, F.col(id_col))).alias("survivor_id"),
        F.min(F.when(F.col("_rk") == 1, F.col("_score"))).alias("survivor_chars"),
    )


def gram_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Distinct word-n-gram set per document (:func:`~.text.word_ngrams`),
    md5-hashed to 8-byte longs, as an array column — kept per-doc
    instead of exploded, for per-PAIR exact re-checks.

    Hashed because the sets ride a candidate-pair join: set
    intersections compare longs instead of ~30-byte strings and the
    arrays shrink ~4x. A 48-bit collision only matters if two distinct
    grams of the SAME doc pair collide (~10^-14 per pair); an
    engine-parity twin applies the identical hash, so cross-engine
    results agree even then."""
    grams = F.array_distinct(
        F.transform(word_ngrams(F.col("_toks"), ngram), md5_long)
    )
    return df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col), grams.alias("grams")
    )


def lsh_precision(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    true_jaccard: float = 0.2,
    ngram: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Dedup quality evaluation: for EVERY MinHash/LSH band-collision
    candidate pair (no agreement cutoff), compute the exact word-n-gram
    Jaccard and report, per signature-agreement level, how many
    candidates are true near-dups at ``true_jaccard`` — the
    precision curve that decides the est-threshold before a 100 TB
    dedup commits to dropping documents.

    The exact re-check joins the candidate pair list (LSH-bounded, NOT
    quadratic) against the per-doc gram sets twice and compares arrays
    per pair — per-pair cost proportional to the two documents, total
    cost proportional to the candidate count the bands already pruned.

    Output: ``jaccard_est, n_pairs, n_true_pairs, precision_at_true,
    mean_true_jaccard`` (fenced mean, 6-decimal rounded).

    Pass ``candidates`` to recheck a precomputed/persisted candidate
    table (``doc_a, doc_b, jaccard_est`` — the stored pipeline
    artifact) instead of rebuilding the LSH index inline.
    """
    cands = (
        candidates
        if candidates is not None
        else minhash_lsh_pairs(
            df,
            text_col,
            id_col,
            num_hashes=num_hashes,
            bands=bands,
            min_jaccard_est=0.0,
        )
    )
    # Hashed gram sets (8-byte longs, ~4x smaller through the join).
    # No broadcast hint: the gram table has one row per DOCUMENT, which
    # is evaluation-sized here but corpus-sized in production — a forced
    # broadcast would blow the driver at 100 TB (ADVICE r10 #3). AQE
    # picks broadcast when the doc side actually fits; otherwise this is
    # two key-partitioned shuffles on the candidate-pair stream, which
    # the bands already pruned to near-linear size. Union size is
    # derived (|A|+|B|-|A∩B|, exact on distinct sets) instead of
    # materializing concat+distinct per pair.
    g = gram_sets(df, text_col, id_col, ngram)
    a = g.select(F.col(id_col).alias("doc_a"), F.col("grams").alias("_ga"))
    b = g.select(F.col(id_col).alias("doc_b"), F.col("grams").alias("_gb"))
    # Two-step projection so the O(|ga|+|gb|) intersect runs ONCE per
    # pair: written inline, |A∩B| appears three times (guard, numerator,
    # denominator) and codegen's conditional-aware subexpression
    # elimination does not hoist it out of the CASE — measured 3x the
    # intersect work on the candidate stream. CollapseProject keeps the
    # split (it never inlines a non-cheap expression into multiple uses),
    # and the arithmetic is unchanged: same ints, same double division.
    inter = F.size(F.array_intersect("_ga", "_gb"))
    sz = F.size("_ga") + F.size("_gb")
    uni = F.col("_sz") - F.col("_i")
    tj = F.when(uni > 0, F.col("_i") / uni).otherwise(F.lit(0.0))
    j = (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("jaccard_est", inter.alias("_i"), sz.alias("_sz"))
        .select("jaccard_est", tj.alias("_tj"))
    )
    hit = F.when(F.col("_tj") >= true_jaccard, 1).otherwise(0)
    return j.groupBy("jaccard_est").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(hit).cast("bigint").alias("n_true_pairs"),
        trino_round(
            F.sum(hit).cast("double") / F.count(F.lit(1)), 6
        ).alias("precision_at_true"),
        trino_round(
            F.sum(F.col("_tj").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_true_jaccard"),
    )


def decontamination_report(
    df: DataFrame,
    eval_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Train/eval n-gram decontamination check (the PaLM/GPT-3-style
    benchmark-leak audit, public: Brown et al. 2020 §4, Chowdhery et
    al. 2022 §6): a training document is CONTAMINATED when it shares at
    least one distinct ``ngram``-word gram with any document of the
    held-out eval set (``eval_pred`` marks eval rows). 8 words is the
    PaLM choice — long enough that boilerplate phrases don't flag, short
    enough that paraphrase-adjacent copies still do.

    Never doc×doc: "this gram occurs in some eval doc" is a max()
    window over the gram partition of the ONE exploded gram table —
    tokenize once, shuffle once on the gram, and all three distinct
    counts (eval grams, contaminated train docs, flagged grams) ride a
    single expand-aggregate over that shuffle. Cost is linear in
    corpus grams: no posting-list self-join, no df cap needed, no
    second tokenize pass (the build-eval-set-then-join formulation
    scans the corpus twice). Grams come from :func:`~.text.gram_rows`.

    Output (one row): ``n_eval, n_train, n_eval_grams,
    n_contaminated, n_flagged_grams, contamination_rate`` —
    rate = contaminated / train, round6.
    """
    ex = gram_rows(
        df, text_col, ngram, [id_col, eval_pred.cast("boolean").alias("_ev")]
    )
    # "gram appears in some eval doc" is a max() window over the gram
    # partition — the distinct-eval-gram table and the train-side join
    # collapse into ONE shuffle of the exploded table, and the three
    # distinct counts ride a single expand-aggregate over it (the
    # build-then-join formulation tokenizes the corpus twice; measured
    # 6.8 s -> window form at sf0.1)
    hasev = (
        F.max(F.col("_ev").cast("int")).over(Window.partitionBy("gram")) == 1
    )
    marked = ex.withColumn("_hasev", hasev)
    hit = ~F.col("_ev") & F.col("_hasev")
    stats = marked.agg(
        F.countDistinct(F.when(F.col("_ev"), F.col("gram"))).alias(
            "n_eval_grams"
        ),
        F.countDistinct(F.when(hit, F.col(id_col))).alias("n_contaminated"),
        F.countDistinct(F.when(hit, F.col("gram"))).alias("n_flagged_grams"),
    )
    counts = df.agg(
        F.sum(eval_pred.cast("boolean").cast("int")).alias("n_eval"),
        F.sum((~eval_pred.cast("boolean")).cast("int")).alias("n_train"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            F.col("n_eval").cast("bigint").alias("n_eval"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_eval_grams").cast("bigint").alias("n_eval_grams"),
            F.col("n_contaminated").cast("bigint").alias("n_contaminated"),
            F.col("n_flagged_grams").cast("bigint").alias("n_flagged_grams"),
            trino_round(
                F.col("n_contaminated").cast("double")
                / F.col("n_train").cast("double"),
                6,
            ).alias("contamination_rate"),
        )
    )


def gram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    ngram: int = 3,
) -> DataFrame:
    """Corpus novelty audit: for each document, the share of its
    distinct word-n-grams that appear HERE FIRST (no document with a
    smaller ``id_col`` contains them), rolled up per ``group_col`` —
    the "is this crawl still adding new content or re-serving the
    web's long tail" curve that decides when to stop ingesting a
    source. Ingestion order is whatever ``id_col`` encodes (min-id =
    first occurrence; deterministic, tie-free).

    Linear, ONE gram-keyed shuffle: each gram's first-occurrence id is
    a min() window over the gram partition of the exploded table — the
    explode is tokenized once, shuffled once, and never joined back
    (the groupBy+join formulation computes the explode twice; measured
    15.6 s -> window form at sf0.1). The per-(doc, group) ratio then
    rolls up to |groups| rows. Never a doc x doc comparison; grams
    come from :func:`~.text.gram_rows`. Documents shorter than
    ``ngram`` tokens carry no grams and are excluded (documented; they
    have no novelty to measure).

    Output per group: ``{group_col}, n_docs, n_grams, n_novel,
    novelty_rate`` (gram counts are per-doc distinct, summed;
    rate = novel / grams, round6).
    """
    ex = gram_rows(df, text_col, ngram, [id_col, group_col])
    # min-over-gram-partition window == groupBy(gram).min + join back,
    # but tokenizes and shuffles the exploded table exactly once
    first = F.min(id_col).over(Window.partitionBy("gram"))
    per_doc = (
        ex.withColumn("_first", first)
        .groupBy(F.col(id_col), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("_ng"),
            F.sum((F.col("_first") == F.col(id_col)).cast("int")).alias("_nn"),
        )
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_ng").cast("bigint").alias("n_grams"),
            F.sum("_nn").cast("bigint").alias("n_novel"),
            trino_round(
                F.sum("_nn").cast("double") / F.sum("_ng").cast("double"), 6
            ).alias("novelty_rate"),
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# Hamming-banded near-dup pairs (perceptual hashes, SimHash digests)
# ---------------------------------------------------------------------------


def hamming_banded_pairs(
    hashes: DataFrame,
    id_col: str,
    band_cols: Sequence[str],
    bits_per_band: int,
    max_hamming: int,
    max_band_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs under Hamming distance over a banded bit-hash
    (perceptual image hash, SimHash): explode the band columns, equi-join
    ids that share any (band, value) bucket, then filter candidates by
    exact Hamming distance (``bit_count(xor)`` summed across bands).

    Recall contract (pigeonhole): with ``B`` bands, any pair within
    Hamming distance ``B - 1`` differs in at most ``B - 1`` bands, so at
    least one band matches exactly and the pair IS a candidate. Past that
    the bucket join is approximate-recall in the usual LSH sense.

    Never a cartesian product: candidates only meet inside a
    (band, value) bucket (same plan shape as ``minhash_lsh_pairs``;
    plan-asserted by tests/test_plans.py). The Hamming distance is
    computed BEFORE the distinct so the dedup exchange carries 3 narrow
    columns, not 2 x len(band_cols) hash ints.

    ``max_band_df`` is the skew valve (same trade as ``max_gram_df`` in
    the set-similarity joins): a degenerate bucket — e.g. band value 0
    from blank images — self-joins O(df^2). Capping drops buckets with
    more than ``max_band_df`` members from candidate generation only;
    pairs that ALSO share a rarer band are still found, so recall
    degrades last for genuinely similar images. ``None`` = exact banding.
    """
    total_bits = bits_per_band * len(band_cols)
    if not 0 <= max_hamming < total_bits:
        raise ValueError(
            f"max_hamming ({max_hamming}) must lie in [0, {total_bits}) — at or "
            "past the hash width every pair passes and the banding prunes nothing"
        )
    if not hashes.isStreaming:
        # Fence the band table (one id + a few ints per asset): the
        # candidate join is a self-join, so without the fence the
        # upstream fingerprint pipeline (SimHash over tokens, the image
        # PNM decode + aHash, the audio energy pass) executes once per
        # join side — the fingerprint is exactly the small artifact this
        # operator exists to compare, so materialize it once.
        #
        # SIDE EFFECT (ADVICE r18): the fence is EAGER — constructing
        # this operator runs the fingerprint pipeline even if the result
        # is never consumed — and the fenced side keeps only the
        # pipeline's upper-bound size estimate, scaled from the inputs
        # (downstream equi-joins auto-broadcast it only when that bound
        # fits; the banded candidate join itself is equi-keyed, pinned
        # cartesian-free by tests/test_plans.py). The band table
        # is one row per ASSET — corpus-scale — so the fence is
        # size-guarded: past the estimate budget it stays lazy and the
        # two join sides replan the pipeline instead of materializing
        # a corpus to executor storage.
        from .fencing import fence_if_small

        hashes = fence_if_small(hashes)
    exploded = hashes.select(
        F.col(id_col),
        *[F.col(c) for c in band_cols],
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias(
            "band", "band_val"
        ),
    )
    if max_band_df is not None:
        bucket_df = (
            exploded.groupBy("band", "band_val")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_band_df)
            .select("band", "band_val")
        )
        exploded = exploded.join(bucket_df, ["band", "band_val"])
    left = exploded.select(
        F.col(id_col).alias("id_a"),
        "band",
        "band_val",
        *[F.col(c).alias(f"a_{c}") for c in band_cols],
    )
    right = exploded.select(
        F.col(id_col).alias("id_b"),
        "band",
        "band_val",
        *[F.col(c).alias(f"b_{c}") for c in band_cols],
    )
    hamming = sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
        for c in band_cols
    )
    return (
        left.join(right, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
