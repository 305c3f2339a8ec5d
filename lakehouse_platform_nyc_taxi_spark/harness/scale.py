"""Data-layout / stored-index query wave: file-skipping analytics,
incremental (stored-index) near-dup detection, mergeable sketch
rollups, SemDeDup k-means, product quantization, and LSH precision.
(The later waves this file once held moved to scale_corpus.py,
scale_behavior.py, and scale_calibration.py in r15.)

Every query pairs a Spark-first implementation (operators/*) with a
DuckDB-runnable oracle twin; column names and rounding are aligned on
both sides per the driver's hash-compare contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, layout
from ..operators.sampling import hash_bucket
from ..sources.testdata import load_table, load_table_parallel
from . import register, session_artifact
from .llm import (
    MD5L,
    _AGREE_SQL,
    _BANDS_SQL,
    _IVF_CTES,
    _IVF_DOT,
    _NGRAM_GRAMS_CTE,
    _VEC_CTE,
    _ivf_index,
    _ivf_probe_sql,
    _minhash_sig_sql,
    shared_band_index,
)
from .mining import _EDGES_SQL, _trade_edges

# ---------------------------------------------------------------------------
# Z-order layout vs single-column sort vs insertion order: how many files
# does a range predicate actually have to read under each write layout?
# ---------------------------------------------------------------------------

_BITS = 16
_FLOG = 6  # 2**6 = 64 files
_HFLOG = 5  # hilbert comparison: 32 files (non-power-of-4; see its doc)
_HBITS = 6  # hilbert rank resolution. The Hilbert state machine is
#           prefix-recursive: level k of the recursion consumes bit k
#           of each rank and emits d's bits 2(bits-k)..2(bits-k)+1, so
#           the FILE assignment (top _HFLOG bits of d) is a function of
#           only the top ceil(_HFLOG/2) = 3 bits of each rank —
#           identical for ANY bits >= 3. Fewer levels = a shorter
#           chained-projection plan (driver-side construction is the
#           cost that scales with chain depth), so run the machine on
#           the top 6 bits: 3 levels of slack below file granularity,
#           6x shorter plan than full 16-bit resolution.
_SCALE = float(2**_BITS - 1)


def _rank_sql(c: str, mn: str, mx: str) -> str:
    return (
        f"CASE WHEN {mx} > {mn} THEN "
        f"CAST(floor(CAST({c} - {mn} AS DOUBLE) * CAST({_SCALE} AS DOUBLE) "
        f"/ CAST({mx} - {mn} AS DOUBLE)) AS BIGINT) ELSE 0 END"
    )


# Shared base: orders -> (custkey, order-day) integer ranks on a
# 2**16 grid + the two 10%-selectivity range-predicate bounds, all from
# a single min/max stats row (no collect on either engine).
_LAYOUT_BASE_SQL = f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS days
      FROM orders
    ),
    st AS (
      SELECT min(o_custkey) AS cx_mn, max(o_custkey) AS cx_mx,
             min(days) AS dy_mn, max(days) AS dy_mx,
             min(o_orderkey) AS ok_mn, max(o_orderkey) AS ok_mx
      FROM o
    ),
    r AS (
      SELECT o_custkey, days,
             {_rank_sql("o_custkey", "cx_mn", "cx_mx")} AS xi,
             {_rank_sql("days", "dy_mn", "dy_mx")} AS yi,
             {_rank_sql("o_orderkey", "ok_mn", "ok_mx")} AS ki,
             cx_mn + CAST(0.45 AS DOUBLE) * (cx_mx - cx_mn) AS lo_x,
             cx_mn + CAST(0.55 AS DOUBLE) * (cx_mx - cx_mn) AS hi_x,
             dy_mn + CAST(0.45 AS DOUBLE) * (dy_mx - dy_mn) AS lo_y,
             dy_mn + CAST(0.55 AS DOUBLE) * (dy_mx - dy_mn) AS hi_y
      FROM o CROSS JOIN st
    )"""


def _skip_tail_sql(from_cte: str, layouts: list[tuple[str, str]]) -> str:
    """Zone maps + skipping rollup over ``from_cte`` for the given
    (layout_name, file_id_sql_expr) pairs — the shared back half of
    every layout-comparison oracle."""
    e_parts = "\n      UNION ALL\n".join(
        f"      SELECT '{name}' AS layout, ({expr}) AS file_id,\n"
        f"             o_custkey, days, lo_x, hi_x, lo_y, hi_y FROM {from_cte}"
        for name, expr in layouts
    )
    return f""",
    e AS (
{e_parts}
    ),
    zm AS (
      SELECT layout, file_id, count(*) AS n_rows,
             min(o_custkey) AS x_min, max(o_custkey) AS x_max,
             min(days) AS y_min, max(days) AS y_max,
             sum(CASE WHEN o_custkey >= lo_x AND o_custkey <= hi_x
                      THEN 1 ELSE 0 END) AS x_matched,
             sum(CASE WHEN days >= lo_y AND days <= hi_y
                      THEN 1 ELSE 0 END) AS y_matched,
             min(lo_x) AS lo_x, min(hi_x) AS hi_x,
             min(lo_y) AS lo_y, min(hi_y) AS hi_y
      FROM e GROUP BY 1, 2
    ),
    pr AS (
      SELECT layout, 'custkey_range' AS predicate, n_rows,
             NOT (x_max < lo_x OR x_min > hi_x) AS scanned,
             x_matched AS matched
      FROM zm
      UNION ALL
      SELECT layout, 'date_range', n_rows,
             NOT (y_max < lo_y OR y_min > hi_y), y_matched
      FROM zm
    )
    SELECT layout, predicate,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
               AS files_scanned,
           CAST(sum(CASE WHEN scanned THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_scanned,
           CAST(sum(CASE WHEN scanned THEN matched ELSE 0 END) AS BIGINT)
               AS rows_matched
    FROM pr GROUP BY 1, 2
"""


_Z_FILE_SQL = f"({layout.zorder_value_sql('xi', 'yi', _BITS)} >> {2 * _BITS - _FLOG})"


def _ranked_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _LAYOUT_BASE_SQL's ``r`` CTE."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        )
        .cast("long")
        .alias("days"),
    )
    stats = o.agg(
        F.min("o_custkey").alias("cx_mn"),
        F.max("o_custkey").alias("cx_mx"),
        F.min("days").alias("dy_mn"),
        F.max("days").alias("dy_mx"),
        F.min("o_orderkey").alias("ok_mn"),
        F.max("o_orderkey").alias("ok_mx"),
    )

    def _bounds(mn: str, mx: str) -> tuple:
        lo = F.col(mn) + F.lit(0.45) * (F.col(mx) - F.col(mn))
        hi = F.col(mn) + F.lit(0.55) * (F.col(mx) - F.col(mn))
        return lo, hi

    lo_x, hi_x = _bounds("cx_mn", "cx_mx")
    lo_y, hi_y = _bounds("dy_mn", "dy_mx")
    # Materialize the ranks in their own select so downstream interleaves
    # reference columns, not re-evaluated rank expressions. (No explicit
    # repartition: measured at sf0.1, the single-row-group scan task
    # finishes faster than the exchange it would take to spread the
    # cheap bit arithmetic — these are scan-bound, not CPU-bound.)
    return o.crossJoin(F.broadcast(stats)).select(
        "o_custkey",
        "days",
        layout.minmax_unit_rank(
            F.col("o_custkey"), F.col("cx_mn"), F.col("cx_mx"), _BITS
        ).alias("xi"),
        layout.minmax_unit_rank(
            F.col("days"), F.col("dy_mn"), F.col("dy_mx"), _BITS
        ).alias("yi"),
        layout.minmax_unit_rank(
            F.col("o_orderkey"), F.col("ok_mn"), F.col("ok_mx"), _BITS
        ).alias("ki"),
        lo_x.alias("lo_x"),
        hi_x.alias("hi_x"),
        lo_y.alias("lo_y"),
        hi_y.alias("hi_y"),
    )


def _skip_summary(f: DataFrame, layouts: dict[str, str]) -> DataFrame:
    """Spark twin of _skip_tail_sql: ``f`` carries (o_custkey, days,
    bounds, one file-id column per layout name in ``layouts``)."""
    zones = layout.zone_maps(
        f.select(
            "o_custkey", "days", "lo_x", "hi_x", "lo_y", "hi_y",
            *layouts.values(),
            (
                (F.col("o_custkey") >= F.col("lo_x"))
                & (F.col("o_custkey") <= F.col("hi_x"))
            ).alias("x_match"),
            (
                (F.col("days") >= F.col("lo_y"))
                & (F.col("days") <= F.col("hi_y"))
            ).alias("y_match"),
        ),
        layouts={name: F.col(c) for name, c in layouts.items()},
        dims={"x": F.col("o_custkey"), "y": F.col("days")},
        matches={"x": F.col("x_match"), "y": F.col("y_match")},
        # predicate bounds are per-group constants, carried via min()
        consts={
            "lo_x": F.col("lo_x"),
            "hi_x": F.col("hi_x"),
            "lo_y": F.col("lo_y"),
            "hi_y": F.col("hi_y"),
        },
    )
    preds = F.explode(
        F.array(
            F.struct(
                F.lit("custkey_range").alias("predicate"),
                (
                    ~(
                        (F.col("x_max") < F.col("lo_x"))
                        | (F.col("x_min") > F.col("hi_x"))
                    )
                ).alias("scanned"),
                F.col("x_matched").alias("matched"),
            ),
            F.struct(
                F.lit("date_range").alias("predicate"),
                (
                    ~(
                        (F.col("y_max") < F.col("lo_y"))
                        | (F.col("y_min") > F.col("hi_y"))
                    )
                ).alias("scanned"),
                F.col("y_matched").alias("matched"),
            ),
        )
    ).alias("_pr")
    return (
        zones.select("layout", "n_rows", preds)
        .groupBy("layout", F.col("_pr.predicate").alias("predicate"))
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.col("_pr.scanned").cast("long")).alias("files_scanned"),
            F.sum(F.when(F.col("_pr.scanned"), F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum(
                F.when(F.col("_pr.scanned"), F.col("_pr.matched")).otherwise(0)
            )
            .cast("bigint")
            .alias("rows_matched"),
        )
    )


@register(
    "layout_zorder_skipping",
    _LAYOUT_BASE_SQL
    + _skip_tail_sql(
        "r",
        [
            ("linear", f"ki >> {_BITS - _FLOG}"),
            ("sort_x", f"xi >> {_BITS - _FLOG}"),
            ("zorder", _Z_FILE_SQL),
        ],
    ),
    doc="Write-layout comparison via zone-map file-skipping simulation: "
    "orders bucketed into 64 files under three layouts — insertion "
    "order (o_orderkey), single-column sort (o_custkey), and Z-order "
    "(Morton interleave of custkey x order-date rank) — then, per "
    "layout, per-file min/max zone maps decide which files a 10% "
    "range predicate on EACH dimension must scan. Shows the 100 TB "
    "tradeoff in numbers: linear skips nothing, sort_x is perfect on "
    "x and blind on y, zorder prunes a large fraction on BOTH. Pure "
    "Catalyst bit arithmetic (no UDFs); min/max normalization uses a "
    "1-row broadcast aggregate, zone maps of all three layouts come "
    "from ONE explode + ONE shuffle; zone-map soundness (skipped "
    "files contain zero matches) is pinned by rows_matched over "
    "scanned files equalling the global match count "
    "(tests/test_layout.py).",
)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked_orders(spark, sf_dir)
    f = r.select(
        "o_custkey",
        "days",
        "lo_x",
        "hi_x",
        "lo_y",
        "hi_y",
        layout.file_id(F.col("ki"), _BITS, _FLOG).alias("file_lin"),
        layout.file_id(F.col("xi"), _BITS, _FLOG).alias("file_sx"),
        layout.file_id(
            layout.zorder_value(F.col("xi"), F.col("yi"), _BITS),
            2 * _BITS,
            _FLOG,
        ).alias("file_z"),
    )
    return _skip_summary(
        f, {"linear": "file_lin", "sort_x": "file_sx", "zorder": "file_z"}
    )


@register(
    "layout_hilbert_skipping",
    _LAYOUT_BASE_SQL
    + ",\n    "
    + layout.hilbert_sql_ctes(
        "r",
        ["o_custkey", "days", "lo_x", "hi_x", "lo_y", "hi_y", "xi", "yi"],
        f"(xi >> {_BITS - _HBITS})",
        f"(yi >> {_BITS - _HBITS})",
        out="hd",
        bits=_HBITS,
    )
    + _skip_tail_sql(
        "hil",
        [
            ("zorder", f"({layout.zorder_value_sql('xi', 'yi', _BITS)} >> {2 * _BITS - _HFLOG})"),
            ("hilbert", f"hd >> {2 * _HBITS - _HFLOG}"),
        ],
    ),
    doc="Hilbert vs Z-order clustering head-to-head on the same "
    "zone-map skipping simulation, at 32 files — deliberately NOT a "
    "power of 4, so each file's curve range spans two quadrant cells "
    "and the curves actually differ (at 4^k files both curves fill "
    "identical aligned cells and skip identically). Measured effect: "
    "Morton's odd leading bit donates all cross-cell locality to ONE "
    "dimension (here 8 files scanned on date vs 16 on custkey), while "
    "Hilbert — the curve behind Databricks liquid clustering — "
    "balances it (10 vs 14): same total pruning, no dimension bias, "
    "which is why multi-tenant layouts prefer it. The per-level "
    "rotate/flip state machine unrolls into chained Catalyst "
    "projections — 6 levels suffice, since the curve is "
    "prefix-recursive and file assignment only sees the top rank "
    "bits (see _HBITS) — no UDF, no shuffle; the oracle replays the "
    "identical state machine as chained CTEs "
    "(operators/layout.py::with_hilbert / hilbert_sql_ctes); "
    "adjacent-cell locality is property-tested on the full 4-bit "
    "grid (tests/test_layout.py).",
)
def layout_hilbert_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _ranked_orders(spark, sf_dir).select(
        "*",
        F.shiftright(F.col("xi"), _BITS - _HBITS).alias("x8"),
        F.shiftright(F.col("yi"), _BITS - _HBITS).alias("y8"),
    )
    h = layout.with_hilbert(r, "x8", "y8", out="hd", bits=_HBITS)
    f = h.select(
        "o_custkey",
        "days",
        "lo_x",
        "hi_x",
        "lo_y",
        "hi_y",
        layout.file_id(
            layout.zorder_value(F.col("xi"), F.col("yi"), _BITS),
            2 * _BITS,
            _HFLOG,
        ).alias("file_z"),
        layout.file_id(F.col("hd"), 2 * _HBITS, _HFLOG).alias("file_h"),
    )
    return _skip_summary(f, {"zorder": "file_z", "hilbert": "file_h"})


# ---------------------------------------------------------------------------
# Incremental MinHash dedup: probe a new batch against the stored index.
# ---------------------------------------------------------------------------

_INCR_BUCKET_SQL = MD5L.format(x="CAST(doc_id AS VARCHAR) || '|incr'")

_SIG_COLS = ", ".join(f"sig{j}" for j in range(8))
_INCR_BANDS_SQL = "\n        UNION ALL\n".join(
    f"        SELECT doc_id, bucket, {b} AS band, "
    f"md5(CAST(sig{2 * b} AS VARCHAR) || '-' || CAST(sig{2 * b + 1} AS VARCHAR))"
    f" AS band_digest, {_SIG_COLS} FROM sb"
    for b in range(4)
)
_INCR_AGREE = " + ".join(
    f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)" for j in range(8)
)


@register(
    "dedup_incremental_minhash",
    _minhash_sig_sql().rstrip()
    + f""",
    sb AS (
        SELECT doc_id, {_SIG_COLS},
               ({_INCR_BUCKET_SQL}) % 10000 AS bucket
        FROM sig
    ),
    banded AS (
{_INCR_BANDS_SQL}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS index_doc,
               a.sig0 AS a0, a.sig1 AS a1, a.sig2 AS a2, a.sig3 AS a3,
               a.sig4 AS a4, a.sig5 AS a5, a.sig6 AS a6, a.sig7 AS a7,
               b.sig0 AS b0, b.sig1 AS b1, b.sig2 AS b2, b.sig3 AS b3,
               b.sig4 AS b4, b.sig5 AS b5, b.sig6 AS b6, b.sig7 AS b7
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.band_digest = b.band_digest
        WHERE a.bucket < 1000 AND b.bucket >= 1000
    )
    SELECT new_doc, index_doc, ({_INCR_AGREE}) / 8.0 AS jaccard_est
    FROM cand
    WHERE ({_INCR_AGREE}) / 8.0 >= 0.5
    """,
    doc="Incremental corpus dedup: a deterministic 10% hash-bucket of "
    "documents plays the incoming batch, the remaining 90% the stored "
    "signature index; the batch's MinHash band digests equi-join "
    "against the index's and candidates are kept at signature "
    "agreement >= 0.5. The scale contract: per-batch cost is "
    "O(batch) hashing + a band-bucket join against a signature store "
    "that is ~0.01% the corpus size — the corpus text is never "
    "re-read (operators/dedup.py::minhash_lsh_probe).",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs).localCheckpoint()
    bucket = hash_bucket(F.col("doc_id"), "incr")
    return dedup.minhash_lsh_probe(
        sigs.filter(bucket < 1000), sigs.filter(bucket >= 1000)
    )


# ---------------------------------------------------------------------------
# Label propagation (community detection) over the sparsified trade graph.
# ---------------------------------------------------------------------------

_LPA_ITERS = 4
_LPA_KNN = 2


def _lpa_iter_sql(i: int) -> str:
    return f"""
    s{i} AS (
      SELECT u.dst AS id, l.label,
             CAST(sum(CAST(u.w AS DECIMAL(28,8))) AS DOUBLE) AS w_sum
      FROM und u JOIN l{i - 1} l ON u.src = l.id
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT id, label FROM (
        SELECT id, label,
               row_number() OVER (PARTITION BY id
                                  ORDER BY w_sum DESC, label ASC) AS rn
        FROM s{i}) WHERE rn = 1
    )"""


def _lpa_oracle_sql() -> str:
    return (
        f"""
    WITH {_EDGES_SQL.strip()},
    sym AS (
      SELECT src, dst, CAST(sum(CAST(w AS DECIMAL(28,8))) AS DOUBLE) AS w
      FROM (SELECT src, dst, w FROM edges WHERE src <> dst
            UNION ALL SELECT dst, src, w FROM edges WHERE src <> dst) b
      GROUP BY 1, 2
    ),
    knn AS (
      SELECT src, dst, w FROM (
        SELECT src, dst, w,
               row_number() OVER (PARTITION BY src
                                  ORDER BY w DESC, dst ASC) AS rn
        FROM sym) WHERE rn <= {_LPA_KNN}
    ),
    und AS (
      SELECT src, dst, CAST(sum(CAST(w AS DECIMAL(28,8))) AS DOUBLE) AS w
      FROM (SELECT src, dst, w FROM knn
            UNION ALL SELECT dst, src, w FROM knn) b
      GROUP BY 1, 2
    ),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM und),"""
        + ",".join(_lpa_iter_sql(i) for i in range(1, _LPA_ITERS + 1))
        + f"""
    SELECT CAST(id AS BIGINT) AS id, CAST(label AS BIGINT) AS label
    FROM l{_LPA_ITERS}
    """
    )


@register(
    "graph_label_propagation",
    _lpa_oracle_sql(),
    doc="Weighted synchronous label propagation (community detection), 4 "
    "fixed iterations over the k-nearest-neighbour sparsification of "
    "the nation-trade graph (top-2 strongest partners per nation, "
    "symmetrized): each node adopts the neighbour label with the "
    "highest decimal-fenced incident weight (ties -> smallest label). "
    "The kNN sparsification is the standard prelude for LPA on "
    "near-complete graphs — without it a dense graph collapses to one "
    "community in one step; the mode-weight update then finds dense "
    "communities that min-label CC cannot. Winner selection is a "
    "(w_sum DESC, label ASC) row_number, bit-stable across engines; "
    "the oracle unrolls the iterations as plain CTEs "
    "(operators/graph.py::label_propagation).",
    prepare=_trade_edges,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.graph import _dsum, label_propagation

    e = _trade_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(_dsum("w").alias("w"))
    )
    wnd = Window.partitionBy("src").orderBy(F.col("w").desc(), F.col("dst").asc())
    knn = (
        sym.withColumn("_rn", F.row_number().over(wnd))
        .filter(F.col("_rn") <= _LPA_KNN)
        .select("src", "dst", "w")
    )
    # bounded_nodes: nation-level kNN graph, <=25 nodes at ANY scale
    # factor (r19 A/B: 0.70 -> 0.69 s min — neutral locally, but each
    # iteration's SortMergeJoin goes broadcast; values identical)
    labels = label_propagation(
        knn, iterations=_LPA_ITERS, weight="w", bounded_nodes=True
    )
    return labels.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("label").cast("bigint").alias("label"),
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@10 of the IVF index vs exact brute force.
# ---------------------------------------------------------------------------


def _ivf_recall_oracle_sql() -> str:
    dot_nq = _IVF_DOT.format(a="n.e", b="q.qe")
    return (
        _IVF_CTES
        + f"""
    , q AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 20),
    bscored AS (
        SELECT q.qid, n.vec_id,
               round({dot_nq} / (sqrt(n.nrm) * sqrt(q.qn)), 6) AS score
        FROM n, q
    ),
    br AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY score DESC, vec_id) AS rk
            FROM bscored) WHERE rk <= 10
    )"""
        + _ivf_probe_sql("iscored")
        + f"""
    , ir AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY score DESC, vec_id) AS rk
            FROM iscored) WHERE rk <= 10
    )
    SELECT br.qid,
           CAST(count(ir.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(ir.vec_id) AS DOUBLE) / CAST(10.0 AS DOUBLE), 6)
               AS recall_at_10
    FROM br LEFT JOIN ir ON br.qid = ir.qid AND br.vec_id = ir.vec_id
    GROUP BY br.qid
    """
    )


@register(
    "similarity_ivf_recall",
    _ivf_recall_oracle_sql(),
    doc="In-engine ANN quality evaluation: recall@10 of the IVF index "
    "(n_probe=2 of 16 cells) against the exact brute-force top-10, "
    "for a 20-query batch — the metric that decides n_probe/n_cells "
    "tradeoffs before a 100 TB reindex. Pure composition of the two "
    "existing search paths plus a (qid, vec_id) equi-join; ranks "
    "tie-break on (score DESC, vec_id) in both engines so the "
    "boundary row of each top-10 is deterministic.",
    prepare=_ivf_index,
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.trino import trino_round
    from ..operators import similarity

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        # bounded by the filter (<=20 rows at ANY scale factor) and
        # consumed by BOTH search paths, each of which would otherwise
        # re-run the scan+filter per broadcast build (r19 interleaved
        # A/B: ivf_recall 1.78 -> 1.64 s min; pq_recall neutral, kept
        # for the strictly-once query-side scan)
        .localCheckpoint()
    )
    exact = similarity.cosine_topk_batch(emb, qs, k=10)
    approx = similarity.ivf_probe_batch(
        _ivf_index(spark, sf_dir), qs, k=10, n_probe=2
    )
    hits = exact.select("qid", "vec_id").join(
        approx.select("qid", "vec_id", F.lit(1).alias("_hit")),
        ["qid", "vec_id"],
        "left",
    )
    return hits.groupBy("qid").agg(
        F.count("_hit").cast("bigint").alias("n_hits"),
        trino_round(
            F.count("_hit").cast("double") / F.lit(10.0), 6
        ).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Multimodal: video-style frame sampling (explode-shaped mapInPandas).
# ---------------------------------------------------------------------------


@register(
    "multimodal_frame_sample",
    """
    WITH a AS (
      SELECT doc_id AS asset_id, coalesce(text, '') AS c,
             length(coalesce(text, '')) AS L
      FROM documents
    ),
    f AS (
      SELECT asset_id, CAST(i AS INT) AS frame_no,
             CAST(i * greatest(L // 4, 1) AS BIGINT) AS frame_offset,
             md5(substring(c, CAST(i * greatest(L // 4, 1) AS BIGINT) + 1,
                           greatest(L // 4, 1))) AS frame_md5
      FROM a, unnest(generate_series(0, least(4, L) - 1)) AS t(i)
      WHERE L > 0
    )
    SELECT asset_id, frame_no, frame_offset, frame_md5 FROM f
    """,
    doc="Video-to-frame-table expansion: each binary payload (documents "
    "bytes standing in for video) is segmented into 4 equal 'frames', "
    "one output row per sampled frame with byte offset and md5 digest "
    "— the explode-shaped Arrow mapInPandas pattern whose per-frame "
    "rows feed the image pipeline, with per-frame payload never "
    "shuffled at source size. The oracle replays the segment "
    "arithmetic and digests in SQL (valid because the testdata text "
    "is byte==char, an invariant pinned by "
    "tests/test_llm_operators.py's ord==byte test) "
    "(operators/multimodal.py::fake_frame_sample).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    # plain load (r19 A/B: 0.30 vs 0.50 s — the frame segmentation is
    # offset arithmetic, not decode work; scan-bound)
    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
    )
    return multimodal.fake_frame_sample(assets, n_frames=4)


# ---------------------------------------------------------------------------
# Mergeable sketch rollups (Spark 4 DataSketches surface): frequent items,
# KLL quantiles, theta set operations. Same verification contract as
# agg_hll_mergeable_rollup: exact values + always-true error-bound flags.
# ---------------------------------------------------------------------------


@register(
    "agg_approx_top_k_rollup",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           (SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
            FROM events) AS n_daily_sketches
    FROM events
    GROUP BY event_type
    """,
    doc="MERGEABLE frequent-items rollup (DataSketches ItemsSketch via "
    "Spark 4 approx_top_k_accumulate/_combine/_estimate): per-day "
    "item sketches combine into the global top-k WITHOUT re-scanning "
    "rows — the 100 TB leaderboard pattern. With maxItemsTracked "
    "(10000) far above the item cardinality (5 event types) the "
    "sketch never evicts, so counts are EXACT and the oracle is the "
    "plain GROUP BY — the same never-sampled regime the hll/theta "
    "rollups pin with within_bound flags.",
)
def agg_approx_top_k_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("_day")).agg(
        F.expr("approx_top_k_accumulate(event_type, 10000)").alias("_sk")
    )
    top = daily.agg(
        F.expr(
            "approx_top_k_estimate(approx_top_k_combine(_sk, 10000), 8)"
        ).alias("_t"),
        F.count("*").alias("_nd"),
    )
    return top.select(F.explode("_t").alias("e"), "_nd").select(
        F.col("e.item").alias("event_type"),
        F.col("e.count").cast("bigint").alias("n_events"),
        F.col("_nd").cast("bigint").alias("n_daily_sketches"),
    )


@register(
    "agg_kll_quantile_rollup",
    """
    SELECT event_type,
           CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT)
               AS n_daily_sketches,
           round(quantile_cont(value, 0.5), 4) AS exact_p50,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
    doc="MERGEABLE quantile rollup (DataSketches KLL via Spark 4 "
    "kll_sketch_agg_double + the 2-arg kll_sketch_merge_double folded "
    "over collected daily partials — bounded: n_days sketches of ~KB "
    "each per group): per-(day, type) value sketches merge into a "
    "per-type p50 estimate without re-scanning raw rows. KLL returns "
    "a REAL stream value whose true rank is within the sketch's "
    "normalized rank error (k=200 -> ~1.65%), so the flag checks the "
    "estimate's exact rank interval overlaps [0.5 +- 0.03]; the "
    "deterministic columns (exact continuous p50, partial count) "
    "hash-match the oracle. Deterministic alternative when exact "
    "reproducibility matters more than space: "
    "agg_histogram_percentile_rollup.",
)
def agg_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.trino import trino_round

    eps = 0.03
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("_day"), "event_type"
    ).agg(F.expr("kll_sketch_agg_double(value, 200)").alias("_sk"))
    per = daily.groupBy("event_type").agg(
        F.collect_list("_sk").alias("_sks"),
        F.count("*").alias("n_daily_sketches"),
    )
    est = per.select(
        "event_type",
        F.col("n_daily_sketches").cast("bigint").alias("n_daily_sketches"),
        F.expr(
            "kll_sketch_get_quantile_double("
            "  reduce(_sks, CAST(NULL AS BINARY),"
            "         (acc, x) -> CASE WHEN acc IS NULL THEN x"
            "                          ELSE kll_sketch_merge_double(acc, x)"
            "                     END),"
            "  0.5D)"
        ).alias("_q"),
    )
    ranks = (
        ev.join(F.broadcast(est.select("event_type", "_q")), "event_type")
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") < F.col("_q")).cast("double")).alias("_rlo"),
            F.avg((F.col("value") <= F.col("_q")).cast("double")).alias("_rhi"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        trino_round(F.percentile("value", F.lit(0.5)), 4).alias("exact_p50")
    )
    return (
        est.join(ranks, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_daily_sketches",
            "exact_p50",
            (
                (F.col("_rlo") <= 0.5 + eps) & (F.col("_rhi") >= 0.5 - eps)
            ).alias("within_bound"),
        )
    )


@register(
    "agg_theta_set_ops",
    """
    WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    b AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM v JOIN p USING (user_id))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS exact_view,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS exact_purchase,
           (SELECT nb FROM b) AS exact_both,
           (SELECT CAST(count(*) AS BIGINT) FROM v) - (SELECT nb FROM b)
               AS exact_view_only,
           TRUE AS view_within_bound,
           TRUE AS both_within_bound,
           TRUE AS view_only_within_bound
    """,
    doc="Theta sketch set algebra (Spark 4 theta_sketch_agg / "
    "theta_intersection / theta_difference): distinct viewers, "
    "viewer-AND-purchaser (intersection) and viewer-only (difference) "
    "audiences from two reusable per-segment sketches — the set "
    "operations HLL cannot do, and the reason theta sketches are the "
    "audience-overlap tool at 100 TB (segment sketches persist; any "
    "pairwise overlap is sketch algebra, never a re-join). Flags pin "
    "|est - exact| <= max(5% of the union upper bound, 5) — "
    "conservative for lgK=12, and the sketches are exact below 4096 "
    "retained entries anyway; exact counts come from a distinct "
    "semi-join.",
)
def agg_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.expr(
            "theta_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END)"
        ).alias("_sv"),
        F.expr(
            "theta_sketch_agg("
            "CASE WHEN event_type = 'purchase' THEN user_id END)"
        ).alias("_sp"),
    )
    est = sk.select(
        F.expr("theta_sketch_estimate(_sv)").alias("_ev"),
        F.expr("theta_sketch_estimate(theta_intersection(_sv, _sp))").alias(
            "_eb"
        ),
        F.expr("theta_sketch_estimate(theta_difference(_sv, _sp))").alias(
            "_evo"
        ),
    )
    view_users = ev.filter(F.col("event_type") == "view").select(
        "user_id"
    ).distinct()
    purch_users = ev.filter(F.col("event_type") == "purchase").select(
        "user_id"
    ).distinct()
    exact = (
        view_users.withColumn("_v", F.lit(1))
        .join(purch_users.withColumn("_p", F.lit(1)), "user_id", "full")
        .agg(
            F.sum("_v").cast("bigint").alias("exact_view"),
            F.sum("_p").cast("bigint").alias("exact_purchase"),
            F.sum(F.col("_v") * F.col("_p")).cast("bigint").alias("exact_both"),
        )
        .withColumn(
            "exact_view_only", F.col("exact_view") - F.col("exact_both")
        )
    )
    bound = F.greatest(
        F.ceil(0.05 * (F.col("exact_view") + F.col("exact_purchase"))),
        F.lit(5),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_view",
        "exact_purchase",
        "exact_both",
        "exact_view_only",
        (F.abs(F.col("_ev") - F.col("exact_view")) <= bound).alias(
            "view_within_bound"
        ),
        (F.abs(F.col("_eb") - F.col("exact_both")) <= bound).alias(
            "both_within_bound"
        ),
        (F.abs(F.col("_evo") - F.col("exact_view_only")) <= bound).alias(
            "view_only_within_bound"
        ),
    )


# ---------------------------------------------------------------------------
# Round-10: SemDeDup — deterministic k-means clustering + within-cluster
# semantic near-dup flags, unrolled Lloyd's in the SQL twin.
# ---------------------------------------------------------------------------


def _km_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: decimal-fenced per-(cell, dim) means
    -> ordered centroid list -> cosine scores -> first-max reassignment."""
    prev = f"a{i - 1}"
    dot = _IVF_DOT.format(a="n.e", b="c.ce")
    return f"""
    , x{i} AS (
        SELECT cell, unnest(generate_series(1, len(e))) AS i, unnest(e) AS x
        FROM {prev}
    ),
    c{i} AS (
        SELECT cell, i,
               CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS m
        FROM x{i} GROUP BY cell, i
    ),
    v{i} AS (SELECT cell, list(m ORDER BY i) AS ce FROM c{i} GROUP BY cell),
    w{i} AS (
        SELECT cell, ce, list_sum(list_transform(ce, x -> x * x)) AS cnrm
        FROM v{i}
    ),
    s{i} AS (
        SELECT n.vec_id, n.e, n.nrm, c.cell,
               {dot} / (sqrt(n.nrm) * sqrt(c.cnrm)) AS cs
        FROM n, w{i} c
    ),
    a{i} AS (
        SELECT vec_id, e, nrm, cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
            FROM s{i}
        ) WHERE rn = 1
    )
    """


def _kmeans_semdedup_oracle() -> str:
    km_hash = MD5L.format(x="CAST(vec_id AS VARCHAR) || '|km'")
    pair_dot = _IVF_DOT.format(a="a.e", b="b.e")
    return (
        _VEC_CTE
        + f"""
    , a0 AS (
        SELECT vec_id, e, nrm,
               CAST(({km_hash}) % 8 AS INTEGER) AS cell
        FROM n
    )
    """
        + _km_iter_sql(1)
        + _km_iter_sql(2)
        + f"""
    , d AS (
        SELECT DISTINCT a.vec_id
        FROM a2 a JOIN a2 b
          ON a.cell = b.cell AND b.vec_id < a.vec_id
         AND {pair_dot} / (sqrt(a.nrm) * sqrt(b.nrm)) >= 0.9
    )
    SELECT a2.vec_id, CAST(a2.cell AS INTEGER) AS cluster,
           (d.vec_id IS NOT NULL) AS is_dup
    FROM a2 LEFT JOIN d ON a2.vec_id = d.vec_id
    """
    )


@register(
    "embedding_kmeans_semdedup",
    _kmeans_semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023): deterministic distributed Lloyd's "
    "(salted-hash init, DECIMAL(38,12)-fenced centroid means, literal-"
    "centroid cosine argmax reassignment — engine-bit-reproducible, so "
    "the oracle unrolls both iterations in SQL), then semantic near-dup "
    "flags computed only within final clusters (keep-lowest-id). "
    "Pairwise work is sharded per cluster; only k*d mean scalars reach "
    "the driver per iteration. k=8 here is EVAL-SIZED (the oracle "
    "unrolls exactly 8 init cells): within-cluster pairwise is "
    "O(n^2/k), so production calls leave k unset and the operator "
    "derives k ~ sqrt(n) capped at 16384 (VERDICT r11 #6).",
)
def embedding_kmeans_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_semdedup

    # k pinned to match the unrolled-SQL oracle; see doc above for the
    # scale-derived default. Parallel load (r13 A/B under bench.py
    # conditions — full registry order, min-of-2, sf0.1: parallel
    # 3.20 s on a ~6%-slower ambient run vs plain 3.31 s, and the
    # driver agreed across rounds: 2.82 s parallel in r11 vs
    # 3.61-3.79 s plain in r12). The r12 in-isolation A/B that picked
    # the plain loader did not reproduce in-bench: Lloyd's two
    # iterations rescan the cached input, so starting from 32
    # partitions beats the single-row-group scan even at 2k rows.
    return kmeans_semdedup(
        load_table_parallel(spark, sf_dir, "embeddings"), k=8, iters=2, tau=0.9
    )


# ---------------------------------------------------------------------------
# Round-10: Product quantization — per-subspace deterministic k-means
# codebooks + asymmetric-distance (ADC) top-k, fully unrolled in SQL.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_DSUB = 8, 16, 8  # 64 dims = 8 subspaces x 8 dims


def _pq_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration over ALL subspaces at once: keyed by
    (sub, cell) instead of cell — otherwise identical to the semdedup
    twin (decimal-fenced means, first-max reassignment, ties to the
    lowest cell, only surviving cells scored)."""
    prev = f"pa{i - 1}"
    dot = _IVF_DOT.format(a="p.sv", b="c.ce")
    return f"""
    , px{i} AS (
        SELECT sub, cell, unnest(generate_series(1, len(sv))) AS dim,
               unnest(sv) AS x
        FROM {prev}
    ),
    pc{i} AS (
        SELECT sub, cell, dim,
               CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mu
        FROM px{i} GROUP BY sub, cell, dim
    ),
    pv{i} AS (
        SELECT sub, cell, list(mu ORDER BY dim) AS ce
        FROM pc{i} GROUP BY sub, cell
    ),
    pw{i} AS (
        SELECT sub, cell, ce, list_sum(list_transform(ce, x -> x * x)) AS cnrm
        FROM pv{i}
    ),
    ps{i} AS (
        SELECT p.vec_id, p.sub, p.sv, c.cell,
               {dot} - 0.5 * c.cnrm AS s
        FROM pp p JOIN pw{i} c ON p.sub = c.sub
    ),
    pa{i} AS (
        SELECT vec_id, sub, sv, cell FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY s DESC, cell) AS rn
            FROM ps{i}
        ) WHERE rn = 1
    )
    """


def _pq_ctes() -> str:
    """Shared oracle prefix: exploded subspaces, salted init, two
    unrolled Lloyd iterations -> final codes pa2 + codebook pw2."""
    h = MD5L.format(
        x="CAST(vec_id AS VARCHAR) || '|' || CAST(sub AS VARCHAR) || '|pq'"
    )
    return (
        _VEC_CTE
        + f"""
    , sb AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub)
    , pp AS (
        SELECT vec_id, sub,
               list_slice(e, sub * {_PQ_DSUB} + 1, sub * {_PQ_DSUB} + {_PQ_DSUB}) AS sv
        FROM n, sb
    )
    , pa0 AS (
        SELECT vec_id, sub, sv, CAST(({h}) % {_PQ_K} AS INTEGER) AS cell
        FROM pp
    )
    """
        + _pq_iter_sql(1)
        + _pq_iter_sql(2)
    )


def _pq_oracle() -> str:
    dotq = _IVF_DOT.format(a="qs.qsv", b="w.ce")
    return (
        _pq_ctes()
        + f"""
    , q AS (SELECT e AS qe, nrm AS qn FROM n WHERE vec_id = 0)
    , qs AS (
        SELECT sb.sub,
               list_slice(qe, sb.sub * {_PQ_DSUB} + 1, sb.sub * {_PQ_DSUB} + {_PQ_DSUB}) AS qsv
        FROM q, sb
    )
    , lut AS (
        SELECT w.sub, w.cell, {dotq} AS ldot, w.cnrm
        FROM pw2 w JOIN qs ON w.sub = qs.sub
    )
    , adc AS (
        SELECT a.vec_id,
               list_sum(list(l.ldot ORDER BY a.sub)) AS adot,
               list_sum(list(l.cnrm ORDER BY a.sub)) AS rnrm
        FROM pa2 a JOIN lut l ON a.sub = l.sub AND a.cell = l.cell
        GROUP BY a.vec_id
    )
    SELECT vec_id, round(adot / (sqrt(q.qn) * sqrt(rnrm)), 6) AS score
    FROM adc, q
    ORDER BY score DESC, vec_id
    LIMIT 10
    """
    )


def _pq_index(spark: SparkSession, sf_dir: str):
    """Train-once PQ index shared by the ADC queries (the stored-index
    artifact a production pipeline would persist): codes are
    localCheckpointed so reruns pay only the serving scan."""
    return session_artifact(spark, sf_dir, "pq_index", _build_pq_index)


def _build_pq_index(spark: SparkSession, sf_dir: str):
    from ..operators.similarity import pq_train_encode

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    codes, book = pq_train_encode(emb, dims=64, m=_PQ_M, k=_PQ_K, iters=2, seed="pq")
    return codes.localCheckpoint(), book


@register(
    "similarity_pq_adc_topk",
    _pq_oracle(),
    doc="Product quantization ANN (Jegou et al. 2011): 8 subspaces x 16 "
    "centroids trained with the same deterministic distributed Lloyd's "
    "as SemDeDup (one exploded shuffle per iteration covers ALL "
    "subspaces; k*dims mean scalars to the driver), then asymmetric-"
    "distance top-10 against vec_id=0 — the query stays exact, every "
    "corpus vector costs m TABLE LOOKUPS instead of a 64-float dot, "
    "and the serving stage is a zero-shuffle projection ending in "
    "TakeOrdered. PQ codes are the 100 TB lever: 8 nibbles per vector "
    "in place of 256 float bytes. Oracle unrolls both Lloyd iterations "
    "and the ADC lookup join in SQL; sums are list-ordered or decimal-"
    "fenced on both engines so the hashes match to 6 decimals.",
    prepare=_pq_index,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_adc_topk

    codes, book = _pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    return pq_adc_topk(codes, book, qv, k=10)


def _pq_recall_oracle_sql() -> str:
    dot_nq = _IVF_DOT.format(a="n.e", b="bq.qe")
    dot_lut = _IVF_DOT.format(a="bqs.qsv", b="w.ce")
    return (
        _pq_ctes()
        + f"""
    , bq AS (SELECT vec_id AS qid, e AS qe, nrm AS qn FROM n WHERE vec_id < 20)
    , bscored AS (
        SELECT bq.qid, n.vec_id,
               round({dot_nq} / (sqrt(n.nrm) * sqrt(bq.qn)), 6) AS score
        FROM n, bq
    )
    , br AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY score DESC, vec_id) AS rk
            FROM bscored) WHERE rk <= 10
    )
    , bqs AS (
        SELECT bq.qid, sb.sub,
               list_slice(bq.qe, sb.sub * {_PQ_DSUB} + 1,
                          sb.sub * {_PQ_DSUB} + {_PQ_DSUB}) AS qsv,
               bq.qn
        FROM bq, sb
    )
    , blut AS (
        SELECT bqs.qid, w.sub, w.cell, {dot_lut} AS ldot, w.cnrm, bqs.qn
        FROM pw2 w JOIN bqs ON w.sub = bqs.sub
    )
    , badc AS (
        SELECT l.qid, a.vec_id,
               round(list_sum(list(l.ldot ORDER BY a.sub))
                     / (sqrt(min(l.qn))
                        * sqrt(list_sum(list(l.cnrm ORDER BY a.sub)))),
                     6) AS score
        FROM pa2 a JOIN blut l ON a.sub = l.sub AND a.cell = l.cell
        GROUP BY l.qid, a.vec_id
    )
    , pr AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY score DESC, vec_id) AS rk
            FROM badc) WHERE rk <= 10
    )
    SELECT br.qid,
           CAST(count(pr.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(pr.vec_id) AS DOUBLE) / CAST(10.0 AS DOUBLE), 6)
               AS recall_at_10
    FROM br LEFT JOIN pr ON br.qid = pr.qid AND br.vec_id = pr.vec_id
    GROUP BY br.qid
    """
    )


@register(
    "similarity_pq_recall",
    _pq_recall_oracle_sql(),
    doc="PQ quality evaluation: recall@10 of ADC lookup search against "
    "the exact brute-force top-10 for a 20-query batch — the metric "
    "that decides m/k before committing a 100 TB corpus to codes. "
    "Batch ADC broadcasts one precomputed LUT row per query (m*k "
    "scalars each) over the single code scan: per (vector, query) "
    "cost is m array lookups, the only data shuffle is the per-qid "
    "top-k window. Both engines rank on (rounded score DESC, vec_id) "
    "so every top-10 boundary row is deterministic "
    "(operators/similarity.py::pq_adc_topk_batch).",
    prepare=_pq_index,
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.trino import trino_round
    from ..operators import similarity
    from ..operators.similarity import pq_adc_topk_batch

    codes, book = _pq_index(spark, sf_dir)
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    qs = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
        # bounded by the filter (<=20 rows at ANY scale factor) and
        # consumed by BOTH search paths, each of which would otherwise
        # re-run the scan+filter per broadcast build (r19 interleaved
        # A/B: ivf_recall 1.78 -> 1.64 s min; pq_recall neutral, kept
        # for the strictly-once query-side scan)
        .localCheckpoint()
    )
    exact = similarity.cosine_topk_batch(emb, qs, k=10)
    approx = pq_adc_topk_batch(codes, book, qs, k=10)
    hits = exact.select("qid", "vec_id").join(
        approx.select("qid", "vec_id", F.lit(1).alias("_hit")),
        ["qid", "vec_id"],
        "left",
    )
    return hits.groupBy("qid").agg(
        F.count("_hit").cast("bigint").alias("n_hits"),
        trino_round(
            F.count("_hit").cast("double") / F.lit(10.0), 6
        ).alias("recall_at_10"),
    )


# ---------------------------------------------------------------------------
# Dedup quality evaluation: LSH candidate precision vs exact n-gram Jaccard.
# ---------------------------------------------------------------------------


def _lsh_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached LSH candidate table (doc_a, doc_b, jaccard_est,
    est cutoff 0.0) — the stored pipeline artifact the precision
    recheck consumes; in production this is the persisted output of
    the dedup index build, not something rebuilt per evaluation."""
    return session_artifact(spark, sf_dir, "lsh_cands", _build_lsh_cands)


def _build_lsh_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table_parallel(spark, sf_dir, "documents"),
        min_jaccard_est=0.0,
        banded=shared_band_index(spark, sf_dir),
    ).localCheckpoint()


def _lsh_precision_oracle_sql() -> str:
    return (
        _minhash_sig_sql().rstrip()
        + ",\n"
        + _BANDS_SQL
        + ",\n"
        + _NGRAM_GRAMS_CTE
        + f"""
    , gh AS (
        SELECT doc_id,
               list_distinct(list_transform(grams, x -> {MD5L.format(x="x")}))
                   AS ghs
        FROM g
    )
    , j AS (
        SELECT ({_AGREE_SQL}) / 8.0 AS jaccard_est,
               CASE WHEN (len(a.ghs) + len(b.ghs)
                          - len(list_intersect(a.ghs, b.ghs))) > 0
                    THEN len(list_intersect(a.ghs, b.ghs))
                         / CAST(len(a.ghs) + len(b.ghs)
                                - len(list_intersect(a.ghs, b.ghs)) AS DOUBLE)
                    ELSE 0.0 END AS tj
        FROM pairs p
        JOIN gh a ON a.doc_id = p.doc_a
        JOIN gh b ON b.doc_id = p.doc_b
    )
    SELECT jaccard_est,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN tj >= 0.2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true_pairs,
           round(CAST(sum(CASE WHEN tj >= 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS precision_at_true,
           round(CAST(sum(CAST(tj AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
               AS mean_true_jaccard
    FROM j GROUP BY jaccard_est
    """
    )


@register(
    "dedup_lsh_precision",
    _lsh_precision_oracle_sql(),
    doc="Dedup quality evaluation: every MinHash/LSH band-collision "
    "candidate (no agreement cutoff) is exact-rechecked with true "
    "word-3-gram Jaccard, rolled up per signature-agreement level into "
    "candidate count, true-near-dup count (tj >= 0.2), precision, and "
    "the fenced mean true Jaccard — the curve that calibrates the "
    "est-threshold before a 100 TB dedup drops documents. The recheck "
    "joins the LSH-bounded candidate list (never quadratic) to per-doc "
    "gram sets; cost is proportional to what the bands already pruned. "
    "Note the two gram spaces deliberately differ (char-5-shingle "
    "estimator vs the corpus's word-3-gram dup definition): on this "
    "testdata the curve shows the cheap detector needs est=1.0 to "
    "reach even 3% precision against the word-level truth — exactly "
    "the calibration fact the query exists to surface "
    "(operators/dedup.py::lsh_precision).",
    prepare=_lsh_cands,
)
def dedup_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_parallel(spark, sf_dir, "documents")
    return dedup.lsh_precision(docs, candidates=_lsh_cands(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round-15: Bloom-filter file skipping for point predicates — the case
# zone maps can't serve (key uncorrelated with write order).
# ---------------------------------------------------------------------------

_BLOOM_M = 1024
_BLOOM_K = 3


def _bloom_bit_sql(x: str, i: int) -> str:
    return f"(({MD5L.format(x=f'{x} || ' + repr(f'#{i}'))}) % {_BLOOM_M})"


_BLOOM_BITS_UNION = "\n        UNION\n".join(
    f"        SELECT file, {_bloom_bit_sql('CAST(key AS VARCHAR)', i)} AS bit"
    " FROM fk"
    for i in range(_BLOOM_K)
)
_BLOOM_PBITS_UNION = "\n        UNION\n".join(
    f"        SELECT p, {_bloom_bit_sql('CAST(p AS VARCHAR)', i)} AS bit"
    " FROM pr"
    for i in range(_BLOOM_K)
)


@register(
    "layout_bloom_skipping",
    f"""
    {_LAYOUT_BASE_SQL},
    f AS (SELECT o_custkey AS key, (ki >> {_BITS - _FLOG}) AS file FROM r),
    fk AS (SELECT DISTINCT file, key FROM f),
    bits AS (
{_BLOOM_BITS_UNION}
    ),
    st2 AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM orders),
    pr AS (
        SELECT CAST(mn AS BIGINT) AS p FROM st2
        UNION SELECT CAST(mn + (mx - mn) // 3 AS BIGINT) FROM st2
        UNION SELECT CAST(mn + 2 * ((mx - mn) // 3) AS BIGINT) FROM st2
        UNION SELECT CAST(mx AS BIGINT) FROM st2
    ),
    pbits AS (
{_BLOOM_PBITS_UNION}
    ),
    need AS (SELECT p, count(DISTINCT bit) AS nreq FROM pbits GROUP BY 1),
    hit AS (
        SELECT pb.p, b.file, count(DISTINCT pb.bit) AS nhit
        FROM pbits pb JOIN bits b ON b.bit = pb.bit GROUP BY 1, 2
    ),
    bs AS (
        SELECT h.p, CAST(count(*) AS BIGINT) AS files_bloom
        FROM hit h JOIN need n ON n.p = h.p AND h.nhit = n.nreq GROUP BY 1
    ),
    zm AS (SELECT file, min(key) AS kmin, max(key) AS kmax
           FROM fk GROUP BY 1),
    zs AS (
        SELECT pr.p, CAST(count(*) AS BIGINT) AS files_zonemap
        FROM pr JOIN zm ON pr.p BETWEEN zm.kmin AND zm.kmax GROUP BY 1
    ),
    tr AS (
        SELECT key AS p, CAST(count(DISTINCT file) AS BIGINT) AS files_true
        FROM fk WHERE key IN (SELECT p FROM pr) GROUP BY 1
    ),
    nf AS (SELECT CAST(count(DISTINCT file) AS BIGINT) AS n_files FROM fk)
    SELECT pr.p AS probe, nf.n_files,
           coalesce(bs.files_bloom, 0) AS files_bloom,
           coalesce(zs.files_zonemap, 0) AS files_zonemap,
           coalesce(tr.files_true, 0) AS files_true
    FROM pr CROSS JOIN nf
    LEFT JOIN bs ON bs.p = pr.p
    LEFT JOIN zs ON zs.p = pr.p
    LEFT JOIN tr ON tr.p = pr.p
    ORDER BY probe
    """,
    doc="Bloom-filter file-skipping audit for custkey POINT lookups "
    "under insertion-order layout (64 files by orderkey rank): "
    "custkey is uncorrelated with write order, so every file's "
    "min/max spans the domain and zone maps scan all 64 files, while "
    "a 1024-bit/3-hash per-file Bloom filter prunes to the true "
    "containing files plus a measured false-positive tail — the "
    "Parquet/Delta bloom-index case the z-order/hilbert zone-map "
    "audits can't serve. Cross-engine md5 bit positions, exact "
    "integer set logic, filter table bounded at files x m_bits "
    "(operators/layout.py::bloom_skipping_audit).",
)
def layout_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import bloom_skipping_audit

    ranked = _ranked_orders(spark, sf_dir)
    files = ranked.select(
        F.shiftright(F.col("ki"), _BITS - _FLOG).alias("file"),
        F.col("o_custkey").alias("key"),
    )
    mn, mx = (
        load_table(spark, sf_dir, "orders")
        .agg(F.min("o_custkey"), F.max("o_custkey"))
        .first()
    )
    mn, mx = int(mn), int(mx)
    probes = sorted(
        {mn, mn + (mx - mn) // 3, mn + 2 * ((mx - mn) // 3), mx}
    )
    return bloom_skipping_audit(
        files, "file", "key", probes, m_bits=_BLOOM_M, k=_BLOOM_K
    )
