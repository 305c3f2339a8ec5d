"""Streaming queries for the driver contract.

Each entry drains a real Structured Streaming query with
trigger(availableNow) into a memory sink and returns the sink as a batch
DataFrame. The oracle SQL mirrors *finalized append-mode semantics*: in
append mode only windows/sessions whose end ≤ final watermark
(max event time − delay) are emitted, so the oracle filters on the same
cutoff computed from the data. Stateful/update-mode results whose values
depend on float accumulation order are registered rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import streaming as S
from . import register, session_artifact

_WM = "max(ts) - INTERVAL 1 HOUR"


@register(
    "streaming_windowed_rollup",
    f"""
    WITH wm AS (SELECT {_WM} AS cutoff FROM events),
    agg AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT window_start, window_end, event_type, n_events, total_value
    FROM agg, wm
    WHERE window_end <= wm.cutoff
    """,
    doc="Watermarked tumbling-window rollup (fct_trips_daily as a stream), "
    "append mode: only windows finalized by the watermark emit — the "
    "oracle applies the identical max(ts)-delay cutoff.",
)
def streaming_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, sf_dir)
    out = S.windowed_rollup(ev, window="1 day", watermark="1 hour").select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )
    return S.run_available_now(out, "append", state_partitions=2)


@register(
    "streaming_chained_windows",
    f"""
    WITH wm AS (SELECT {_WM} AS cutoff FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS hv
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS window_start,
               date_trunc('day', h) + INTERVAL 1 DAY AS window_end,
               event_type,
               CAST(sum(n) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_fine_windows,
               CAST(sum(CAST(hv AS DECIMAL(28,8))) AS DOUBLE) AS total_value
        FROM hourly GROUP BY 1, 2, 3
    )
    SELECT window_start, window_end, event_type, n_events, n_fine_windows,
           total_value
    FROM daily, wm
    WHERE window_end <= wm.cutoff
    """,
    doc="Chained windowed aggregations (Spark 3.4+ multi-stateful): raw "
    "events -> hourly windows -> daily windows via window_time() in ONE "
    "streaming query; the daily level consumes one pre-aggregated row "
    "per (hour, type), not raw events. Oracle replays the two-level "
    "decimal-fenced aggregation with the append-mode cutoff.",
)
def streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, sf_dir)
    out = S.chained_window_rollup(
        ev, fine="1 hour", coarse="1 day", watermark="1 hour"
    ).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "n_fine_windows",
        "total_value",
    )
    return S.run_available_now(out, "append", state_partitions=2)


@register(
    "streaming_grouping_sets",
    f"""
    WITH wm AS (SELECT {_WM} AS cutoff FROM events),
    lv AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
               g.gset, g.key, value
        FROM events,
             LATERAL (VALUES ('type', event_type), ('total', 'ALL')) AS g(gset, key)
    ),
    agg AS (
        SELECT window_start, window_end, gset, key,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS total_value
        FROM lv
        GROUP BY 1, 2, 3, 4
    )
    SELECT window_start, window_end, gset, key, n_events, total_value
    FROM agg, wm
    WHERE window_end <= wm.cutoff
    """,
    doc="Streaming GROUPING SETS: per-type and grand-total day rollups "
    "in ONE stateful pass via explode-before-aggregate (streaming aggs "
    "have no native ROLLUP); state keyed by (window, gset, key), all "
    "levels finalized together by the watermark.",
)
def streaming_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, sf_dir)
    out = S.grouping_sets_rollup(ev, window="1 day", watermark="1 hour").select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "gset",
        "key",
        "n_events",
        "total_value",
    )
    return S.run_available_now(out, "append", state_partitions=2)


@register(
    "streaming_dedup_counts",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS total_value
    FROM (SELECT DISTINCT ON (event_id) * FROM events ORDER BY event_id)
    GROUP BY event_type
    """,
    doc="dropDuplicates on the event key within the watermark, then "
    "per-type totals in complete mode (the staging delete+insert dedup "
    "as a stream; event_id is unique in the testdata, so first-wins "
    "dedup is deterministic).",
)
def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.read_events_stream(spark, sf_dir)
    return S.run_available_now(S.dedup_counts(ev, watermark="1 hour"), "complete", state_partitions=4)


@register(
    "streaming_session_windows",
    f"""
    WITH wm AS (SELECT {_WM} AS cutoff FROM events),
    marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    ),
    sessions AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS session_value
        FROM numbered
        GROUP BY user_id, session_no
    )
    SELECT user_id, session_start, session_end, n_events, session_value
    FROM sessions, wm
    WHERE session_end <= wm.cutoff
    """,
    doc="Per-user session windows (30-min gap) via F.session_window, append "
    "mode; the oracle is the gaps-and-islands rewrite with the same "
    "inclusive gap rule (an event exactly gap-after still merges) and "
    "watermark finalization cutoff.",
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, sf_dir)
    out = S.session_windows(ev, gap="30 minutes", watermark="1 hour").select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        "session_value",
    )
    return S.run_available_now(out, "append", state_partitions=4)


@register(
    "streaming_stream_static_join",
    f"""
    WITH wm AS (SELECT {_WM} AS cutoff FROM events),
    j AS (
        SELECT e.ts, e.value, c.c_nationkey
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
    ),
    agg AS (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
               date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
               c_nationkey,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS total_value
        FROM j GROUP BY 1, 2, 3
    )
    SELECT window_start, window_end, c_nationkey, n_events, total_value
    FROM agg, wm
    WHERE window_end <= wm.cutoff
    """,
    doc="Stream-static join: enrich the event stream with a broadcast "
    "customer dimension (stateless — each micro-batch joins the static "
    "snapshot), then a watermarked per-nation windowed rollup in append "
    "mode; the oracle is the batch join with the same finalization "
    "cutoff.",
)
def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.testdata import load_table

    ev = S.read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    out = S.stream_static_enrich(ev, dim).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "c_nationkey",
        "n_events",
        "total_value",
    )
    return S.run_available_now(out, "append", state_partitions=2)


@register(
    "streaming_stateful_user_stats",
    # The stateful implementation accumulates integer hundredths
    # (streaming/ops.py _VALUE_SCALE), so the lifetime total is exact and
    # order-independent — which makes the *output* a plain grouped
    # aggregate any batch engine reproduces. The oracle models the
    # single-micro-batch availableNow drain this harness performs (one
    # source file): update mode then emits exactly one row per user,
    # carrying the full-history aggregate.
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100
               AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
    doc="Custom stateful operator via applyInPandasWithState: per-user "
    "running stats carried in explicit GroupState across triggers "
    "(update mode). Fixed-point accumulation makes the running total "
    "exact, so the batch-SQL twin hash-matches.",
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.read_events_stream(spark, sf_dir)
    return S.run_available_now(S.stateful_user_stats(ev), "update", state_partitions=8)


@register(
    "streaming_stream_stream_join",
    """
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           (epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS secs_to_purchase,
           b.value AS purchase_value
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 2 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
    doc="Stream-stream interval self-join (funnel attribution): "
    "purchases matched to same-user views in the prior 2 hours. "
    "Watermarks + the two-sided time-range condition bound both join "
    "buffers to watermark+horizon of state per side; inner matches emit "
    "immediately, so the availableNow drain equals the batch interval "
    "join the oracle runs. Integer-exact output (epoch-microsecond "
    "arithmetic + raw double passthrough, no aggregation).",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.read_events_stream(spark, sf_dir)
    out = S.stream_stream_attribution(ev)
    return S.run_available_now(out, "append", state_partitions=4)


@register(
    "streaming_stream_stream_left",
    """
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'view'),
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 1 HOUR AS cutoff
    ),
    v AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts, value
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT v.user_id, v.view_id, p.purchase_id,
               (epoch_us(p.purchase_ts) - epoch_us(v.view_ts)) // 1000000
                   AS secs_to_purchase,
               p.value AS purchase_value
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.purchase_ts > v.view_ts
         AND p.purchase_ts <= v.view_ts + INTERVAL 2 HOUR
    )
    SELECT user_id, view_id, purchase_id, secs_to_purchase, purchase_value
    FROM m
    UNION ALL
    SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM v, wm
    WHERE v.view_id NOT IN (SELECT view_id FROM m)
      AND v.view_ts + INTERVAL 2 HOUR < wm.cutoff
    """,
    doc="LEFT OUTER stream-stream interval join: matches emit eagerly; "
    "a view with no purchase emits NULL purchase columns only once the "
    "global watermark (min of both sides' max event time, minus delay) "
    "proves its 2-hour horizon closed — views still open at drain time "
    "are withheld. The oracle reproduces exactly that finalization "
    "cutoff; emission counts pinned empirically at sf0.001 and sf0.01.",
)
def streaming_stream_stream_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.read_events_stream(spark, sf_dir)
    out = S.stream_stream_attribution(ev, how="left_outer")
    return S.run_available_now(out, "append", state_partitions=4)


def _gate_agree_sql() -> str:
    return " + ".join(
        f"(CASE WHEN n.sig{j} = s.sig{j} THEN 1 ELSE 0 END)" for j in range(8)
    )


def _gate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded signature index of the even-id (stored) corpus half — the
    persisted artifact the gate joins against; in production this is the
    band table the batch dedup already writes. An even-id filter of the
    session-shared full-corpus band index (signatures are per-doc pure
    functions, so filter-after-band equals band-after-filter); the
    filter of a checkpointed frame is cheap, so it is not cached."""
    from pyspark.sql import functions as F

    from .llm import shared_band_index

    return shared_band_index(spark, sf_dir).filter(F.col("doc_id") % 2 == 0)


def _streaming_dedup_gate_oracle() -> str:
    from .llm import _BANDS_SQL, _minhash_sig_sql

    agree = _gate_agree_sql()
    return (
        _minhash_sig_sql().rstrip()
        + ",\n"
        + _BANDS_SQL
        + f"""
    SELECT DISTINCT n.doc_id, s.doc_id AS matched_id,
           ({agree}) / 8.0 AS jaccard_est
    FROM banded n
    JOIN banded s ON n.band = s.band AND n.band_digest = s.band_digest
    WHERE n.doc_id % 2 = 1 AND s.doc_id % 2 = 0
      AND ({agree}) / 8.0 >= 0.5
    """
    )


@register(
    "streaming_dedup_gate",
    _streaming_dedup_gate_oracle(),
    doc="Continuous-ingestion near-dup gate: odd-id documents arrive as a "
    "file stream, get MinHash-signed and band-bucketed IN the stream "
    "(stateless projections), and stream-static join the even-id "
    "corpus's band index — one emitted row per (new doc, stored "
    "near-dup) with signature agreement >= 0.5. The streaming half of "
    "the batch minhash_lsh_pairs pipeline against the same persisted "
    "index shape; only the cross-band pair dedup keeps state "
    "(streaming/ops.py::stream_dedup_gate).",
    prepare=_gate_index,
)
def streaming_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    # parallelize_stream: the MinHash signing of the arriving docs is
    # the batch minhash family's CPU-bound work running inside ONE
    # file-stream scan task without it (r19 A/B: 2.58 -> 0.97 s min;
    # state stays at 8 — 8-with-repartition also beat 2-with, 1.48 s)
    new_docs = S.parallelize_stream(
        S.read_documents_stream(spark, sf_dir)
    ).filter(F.col("doc_id") % 2 == 1)
    out = S.stream_dedup_gate(
        new_docs, min_est=0.5, stored_index=_gate_index(spark, sf_dir)
    )
    return S.run_available_now(out, "append", state_partitions=8)


@register(
    "streaming_cms_heavy_hitters",
    """
    WITH exact AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM events GROUP BY 1
        ORDER BY exact_cnt DESC, user_id LIMIT 10
    ),
    depths AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
        SELECT d, (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#'
                    || CAST(d AS VARCHAR)), 1, 15))::BIGINT) % 1024 AS cell
        FROM events CROSS JOIN depths
    ),
    cms AS (
        SELECT d, cell, CAST(count(*) AS BIGINT) AS cnt
        FROM cells GROUP BY 1, 2
    ),
    pc AS (
        SELECT user_id, exact_cnt, d,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#'
                 || CAST(d AS VARCHAR)), 1, 15))::BIGINT) % 1024 AS cell
        FROM exact CROSS JOIN depths
    ),
    est AS (
        SELECT user_id, exact_cnt,
               CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS cms_est
        FROM pc LEFT JOIN cms USING (d, cell)
        GROUP BY 1, 2
    )
    SELECT user_id, exact_cnt, cms_est,
           cms_est >= exact_cnt AS never_underestimates
    FROM est
    """,
    doc="Streaming count-min sketch: the (4x1024) cell table is the "
    "stream's ENTIRE state — bounded by sketch dimensions, not key "
    "cardinality, which is why CMS is the ingestion-side counter at "
    "100 TB (per-key streaming counts grow state forever; the sketch "
    "never does). Complete-mode drain, then the batch estimator "
    "probes the final cell table at the exact top-10 users. Counts "
    "are associative, so the drained sketch is bit-identical to the "
    "batch build and the oracle replays it cell for cell "
    "(streaming/ops.py::stream_cms + operators/sketch.py).",
)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import sketch
    from ..sources.testdata import load_table

    # parallelize_stream: 4 md5 bit-positions per event row is CPU-bound
    # map work in the single scan task otherwise (r19 A/B: 1.86 -> 1.57 s;
    # the sketch groupBy state stays 2 — bounded by sketch cells)
    ev = S.parallelize_stream(S.read_events_stream(spark, sf_dir))
    cms = S.run_available_now(
        S.stream_cms(ev, "user_id", depth=4, width=1024),
        "complete",
        state_partitions=2,
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(10)
    )
    est = sketch.cms_estimate(cms, exact, "user_id", depth=4, width=1024)
    return exact.join(F.broadcast(est), "user_id").select(
        "user_id",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("never_underestimates"),
    )


def _eval_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 8-gram table of the held-out eval docs (doc_id % 20 ==
    7 — same convention as dedup_decontamination): the persisted
    artifact a production gate would load, cached by
    ``session_artifact``; grams come from ``operators.text.gram_rows``,
    as in the batch audit and the gate."""
    return session_artifact(spark, sf_dir, "eval_grams", _build_eval_gram_index)


def _build_eval_gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.text import gram_rows
    from ..sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 7)
    return gram_rows(docs, "text", 8, []).distinct().localCheckpoint()


def _grams8_sql_stream() -> str:
    joins = " || ' ' || ".join(f"toks[i + {k}]" for k in range(1, 9))
    return (
        "CASE WHEN len(toks) >= 8 THEN list_distinct(list_transform("
        "generate_series(0, len(toks) - 8), i -> " + joins + ")) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


@register(
    "streaming_decontamination_gate",
    f"""
    WITH t AS (
        SELECT doc_id, doc_id % 20 = 7 AS ev,
               string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, ev, unnest({_grams8_sql_stream()}) AS gram FROM t
    ),
    eg AS (SELECT DISTINCT gram FROM g WHERE ev)
    SELECT DISTINCT g.doc_id, g.gram
    FROM g JOIN eg USING (gram)
    WHERE NOT ev
    """,
    doc="Continuous-ingestion decontamination gate: non-eval documents "
    "arrive as a file stream, explode to distinct 8-grams in-stream "
    "(stateless projections), and stream-static join the eval set's "
    "persisted distinct-gram index — one emitted (doc_id, gram) row "
    "per benchmark overlap, so ingestion can drop contaminated docs "
    "on arrival. The streaming half of the batch "
    "dedup_decontamination audit against the same eval-gram artifact; "
    "only the (doc, gram) dedup keeps state "
    "(streaming/ops.py::stream_decontamination_gate).",
    prepare=_eval_gram_index,
)
def streaming_decontamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    # parallelize_stream: the in-stream 8-gram explode is tokenize-heavy
    # per-row work in ONE scan task otherwise (r19 A/B: 1.53 -> 0.95 s)
    new_docs = S.parallelize_stream(
        S.read_documents_stream(spark, sf_dir)
    ).filter(F.col("doc_id") % 20 != 7)
    out = S.stream_decontamination_gate(
        new_docs, _eval_gram_index(spark, sf_dir)
    )
    return S.run_available_now(out, "append", state_partitions=2)


def _conformal_threshold_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group conformal threshold artifact (event_type, _pred, _thr):
    the public ``operators.stats.conformal_threshold_artifact`` (same
    md5 split / rank election as the batch stats_conformal_coverage
    query) over events, localCheckpointed and cached by
    ``session_artifact``."""
    return session_artifact(
        spark, sf_dir, "conformal_thresholds", _build_conformal_threshold_index
    )


def _build_conformal_threshold_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.stats import conformal_threshold_artifact
    from ..sources.testdata import load_table

    return (
        conformal_threshold_artifact(
            load_table(spark, sf_dir, "events"),
            "event_type",
            "event_id",
            "value",
            alpha=0.1,
        )
        .select("event_type", "_pred", "_thr")
        .localCheckpoint()
    )


_CONF_HASH_STREAM = "('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|conf'), 1, 15))::BIGINT"


@register(
    "streaming_conformal_gate",
    f"""
    WITH base AS (
        SELECT event_id, event_type AS g, CAST(value AS DOUBLE) AS v,
               ({_CONF_HASH_STREAM}) % 5 = 0 AS is_test
        FROM events WHERE value IS NOT NULL
    ),
    pred AS (
        SELECT g,
               CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS p,
               CAST(count(*) AS BIGINT) AS n_cal
        FROM base WHERE NOT is_test GROUP BY 1
    ),
    cal AS (
        SELECT b.g, round(abs(b.v - pred.p), 8) AS s, pred.n_cal,
               row_number() OVER (PARTITION BY b.g ORDER BY round(abs(b.v - pred.p), 8)) AS rn
        FROM base b JOIN pred ON pred.g = b.g
        WHERE NOT b.is_test
    ),
    thr AS (
        SELECT g, min(s) AS t
        FROM cal
        WHERE rn >= least(CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9)
                                AS BIGINT), n_cal)
        GROUP BY 1
    )
    SELECT b.event_id, b.g AS event_type,
           round(round(abs(b.v - pred.p), 8), 6) AS score,
           round(thr.t, 6) AS threshold
    FROM base b
    JOIN pred ON pred.g = b.g
    JOIN thr ON thr.g = b.g
    WHERE round(abs(b.v - pred.p), 8) > thr.t
    """,
    doc="Continuous conformal outlier gate: arriving events stream-"
    "static join the per-type conformal threshold artifact (the "
    "calibration-split predictor + rank-k nonconformity threshold the "
    "batch stats_conformal_coverage derives) and exceedances emit for "
    "quarantine — arrive-time drift flagging with a finite-sample "
    "<=10% false-alarm guarantee under exchangeability. Entirely "
    "stateless (projection + broadcast join + filter, no state "
    "store); round8-fenced scores make the flagged set engine-exact, "
    "so the oracle is a full batch replay "
    "(streaming/ops.py::stream_conformal_gate).",
    prepare=_conformal_threshold_index,
)
def streaming_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = S.read_events_stream(spark, sf_dir)
    out = S.stream_conformal_gate(
        stream, _conformal_threshold_index(spark, sf_dir)
    )
    return S.run_available_now(out, "append", state_partitions=8)


@register(
    "streaming_attributed_rollup",
    """
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'view'),
            (SELECT max(ts) FROM events WHERE event_type = 'purchase')
        ) - INTERVAL 1 HOUR AS cutoff
    ),
    m AS (
        SELECT b.purchase_ts, b.pv FROM
        (SELECT user_id, ts AS view_ts FROM events
         WHERE event_type = 'view') a
        JOIN (SELECT user_id, ts AS purchase_ts, value AS pv FROM events
              WHERE event_type = 'purchase') b
          ON a.user_id = b.user_id AND b.purchase_ts > a.view_ts
         AND b.purchase_ts <= a.view_ts + INTERVAL 2 HOUR
    ),
    agg AS (
        SELECT CAST(date_trunc('day', purchase_ts) AS TIMESTAMP)
                   AS window_start,
               CAST(date_trunc('day', purchase_ts) + INTERVAL 1 DAY
                    AS TIMESTAMP) AS window_end,
               CAST(count(*) AS BIGINT) AS n_attributed,
               CAST(sum(CAST(pv AS DECIMAL(28,8))) AS DOUBLE)
                   AS attributed_value
        FROM m GROUP BY 1, 2
    )
    SELECT agg.* FROM agg, wm WHERE agg.window_end <= wm.cutoff
    """,
    doc="Stream-stream attribution join CHAINED into a daily windowed "
    "rollup — join state feeding aggregation state in one query (the "
    "two-stateful-operator composition the streaming family lacked): "
    "per day of purchase time, attribution pairs within the 2h "
    "horizon and their pair-weighted decimal-fenced value. Both join "
    "buffers stay watermark+horizon-bounded; append mode finalizes a "
    "window once min(both sides' max event time) - 1h passes its end, "
    "which is exactly the oracle's batch cutoff predicate "
    "(streaming/ops.py::stream_attributed_rollup).",
)
def streaming_attributed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, sf_dir)
    out = S.stream_attributed_rollup(ev).select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "n_attributed",
        "attributed_value",
    )
    return S.run_available_now(out, "append", state_partitions=2)


# ---------------------------------------------------------------------------
# Round-16: streaming perceptual-hash image dedup gate
# ---------------------------------------------------------------------------

def _phash_payload(df: DataFrame) -> DataFrame:
    """The document->binary-P5-image projection shared by the stored
    index and the stream side (identical to multimodal_phash_neardup's
    payload so the oracle's byte replay covers both)."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.concat(
            F.lit(b"P5 16 12 255\n"),
            F.expr(
                "rpad(encode(substring(coalesce(text, ''), 1, 192), 'UTF-8'),"
                " 192, X'00')"
            ),
        ).alias("content"),
    )


def _phash_gate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached perceptual-hash band index of the even-id (stored)
    image corpus — 4 ints + an id per image, the persisted artifact
    batch image dedup already writes."""
    return session_artifact(spark, sf_dir, "phash_gate", _build_phash_gate_index)


def _build_phash_gate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import phash_bands
    from ..sources.testdata import load_table

    stored = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return phash_bands(_phash_payload(stored)).localCheckpoint()


def _banded_gate_oracle(bands_cte: str, max_hamming: int = 3) -> str:
    """Shared SQL tail of the image/audio gate oracles: odd-id (new) vs
    even-id (stored) positional band match over the ``b`` CTE the given
    bands replay produces, full Hamming distance, threshold, distinct."""
    return (
        bands_cte
        + f""",
    p AS (
        SELECT n.doc_id AS asset_id, s.doc_id AS matched_id,
               CAST(bit_count(xor(n.b0, s.b0)) + bit_count(xor(n.b1, s.b1))
                  + bit_count(xor(n.b2, s.b2)) + bit_count(xor(n.b3, s.b3))
                    AS INTEGER) AS hamming
        FROM b n JOIN b s
          ON (n.b0 = s.b0 OR n.b1 = s.b1 OR n.b2 = s.b2 OR n.b3 = s.b3)
         AND n.doc_id % 2 = 1 AND s.doc_id % 2 = 0
    )
    SELECT DISTINCT CAST(asset_id AS BIGINT) AS asset_id,
           CAST(matched_id AS BIGINT) AS matched_id, hamming
    FROM p WHERE hamming <= {max_hamming}
    """
    )


def _phash_gate_oracle(max_hamming: int = 3) -> str:
    from .llm import _phash_bands_cte

    return _banded_gate_oracle(_phash_bands_cte(), max_hamming)


@register(
    "streaming_phash_gate",
    _phash_gate_oracle(),
    doc="Streaming IMAGE near-dup ingest gate: odd-id documents arrive "
    "as a file stream, are rendered to binary P5 payloads and decoded + "
    "aHashed IN the stream (stateless Arrow mapInPandas through the "
    "real PNM seam), then stream-static joined against the stored "
    "even-id corpus's perceptual-hash band index — one emitted row per "
    "(new image, stored near-dup) within Hamming distance 3, where "
    "recall is EXACT by pigeonhole (<= bands-1). The multimodal twin of "
    "streaming_dedup_gate; only the cross-band pair dedup keeps state "
    "(streaming/ops.py::stream_phash_gate). The oracle replays the "
    "decode byte arithmetic and the positional band match in SQL.",
    prepare=_phash_gate_index,
)
def streaming_phash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    new_docs = S.read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    out = S.stream_phash_gate(
        _phash_payload(new_docs),
        _phash_gate_index(spark, sf_dir),
        max_hamming=3,
    )
    return S.run_available_now(out, "append", state_partitions=8)


# --------------------------------------------------------------------------
# Streaming AUDIO near-dup gate (VERDICT r17 #7) — built and tested in
# r18, not registered: the registry stays at 293 queries this round.
# To activate: wrap `streaming_audio_gate` with
# `register("streaming_audio_gate", _audio_gate_oracle(),
# doc=STREAMING_AUDIO_GATE_DOC, prepare=_audio_gate_index)`. A name
# with no driver row sorts into the driver's window by itself.
# --------------------------------------------------------------------------

def _audio_gate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached energy-band index of the even-id (stored) audio
    corpus — 4 ints + an id per clip, the persisted artifact batch
    audio dedup (dedup_audio_neardup) already derives."""
    return session_artifact(spark, sf_dir, "audio_gate", _build_audio_gate_index)


def _build_audio_gate_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import audio_energy_bands
    from ..sources.testdata import load_table

    stored = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 2 == 0) & (F.length("text") > 0)
    )
    return audio_energy_bands(
        stored.select(
            F.col("doc_id").alias("asset_id"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
        )
    ).localCheckpoint()


def _audio_gate_oracle(max_hamming: int = 3) -> str:
    from .llm import _audio_bands_cte

    return _banded_gate_oracle(_audio_bands_cte(), max_hamming)


STREAMING_AUDIO_GATE_DOC = (
    "Streaming AUDIO near-dup ingest gate — the acoustic twin of "
    "streaming_phash_gate (VERDICT r17 #7): odd-id documents arrive as "
    "a file stream, their payloads are energy-fingerprinted IN the "
    "stream (stateless Arrow mapInPandas: 64 integer-exact sub-segment "
    "energies mean-thresholded into a 4x16-bit Haitsma-Kalker envelope, "
    "operators/multimodal.py::audio_energy_bands), then stream-static "
    "joined against the stored even-id corpus's energy-band index — one "
    "emitted row per (new clip, stored near-dup) within Hamming "
    "distance 3, where recall is EXACT by pigeonhole (<= bands-1). Only "
    "the cross-band pair dedup keeps state (streaming/ops.py::"
    "stream_audio_gate). The oracle replays the sub-segment energy "
    "arithmetic, band packing, and positional band match in SQL."
)


def streaming_audio_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    new_docs = S.read_documents_stream(spark, sf_dir).filter(
        (F.col("doc_id") % 2 == 1) & (F.length("text") > 0)
    )
    out = S.stream_audio_gate(
        new_docs.select(
            F.col("doc_id").alias("asset_id"),
            F.encode(F.col("text"), "UTF-8").alias("content"),
        ),
        _audio_gate_index(spark, sf_dir),
        max_hamming=3,
    )
    return S.run_available_now(out, "append", state_partitions=8)
