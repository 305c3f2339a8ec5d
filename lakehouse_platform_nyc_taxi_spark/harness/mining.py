"""Round-6 query wave: graph analytics (triangles, degrees), TWAP,
privacy audit, running-distinct, mode/median, salted aggregation,
funnel conversion, market-basket pairs, categorical profiling.

Every query pairs a Spark-first implementation (operators/*) with a
DuckDB-runnable oracle twin; column names and rounding are aligned on
both sides per the driver's hash-compare contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.trino import trino_round
from ..sources.testdata import load_table
from . import register, session_artifact
from .core import DSUM

# Shared nation-trade edge derivation (identical to graph_pagerank's):
# supplier-nation -> customer-nation, weight = lineitem count.
_EDGES_SQL = """
    edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-trade edge table: the 4-table join's output is the shared
    input artifact of every graph query (pagerank / hits / triangles /
    degrees / label propagation) — in production the edge table is
    materialized once and the algorithms run from it, so it is a
    localCheckpointed ``session_artifact`` (~|nations|^2 rows)."""
    return session_artifact(spark, sf_dir, "trade_edges", _build_trade_edges)


def _build_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        .localCheckpoint()
    )


@register(
    "graph_triangle_count",
    f"""
    WITH {_EDGES_SQL},
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
      SELECT v AS node, count(*) AS triangles
      FROM (
        SELECT x AS v FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      ) GROUP BY v
    ),
    nodes AS (
      SELECT a AS node FROM und UNION SELECT b FROM und
    )
    SELECT n.n_name AS nation,
           CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
    FROM nodes
    LEFT JOIN per_node p USING (node)
    JOIN nation n ON n.n_nationkey = node
    """,
    doc="Per-node triangle counts over the undirected nation trade "
    "graph via degree-ordered edge orientation (Suri & Vassilvitskii's "
    "curse-of-the-last-reducer fix): each triangle is found exactly "
    "once at its lowest-degree vertex, so hub wedges explode on "
    "O(min-degree^2), not O(hub-degree^2). Oracle is the naive "
    "a<b<c ordered 3-way self-join — the driver cross-checks that "
    "orientation loses nothing.",
    prepare=_trade_edges,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    tri = triangle_count(_trade_edges(spark, sf_dir))
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return tri.join(
        F.broadcast(nation), tri.node == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.col("triangles").cast("bigint").alias("triangles"),
    )


@register(
    "graph_degree_stats",
    f"""
    WITH {_EDGES_SQL},
    melted AS (
      SELECT src AS node, 1 AS is_out, w FROM edges
      UNION ALL
      SELECT dst AS node, 0 AS is_out, w FROM edges
    ),
    stats AS (
      SELECT node,
             CAST(sum(is_out) AS BIGINT) AS out_degree,
             CAST(sum(1 - is_out) AS BIGINT) AS in_degree,
             {DSUM('CASE WHEN is_out = 1 THEN w ELSE 0.0 END')} AS out_weight,
             {DSUM('CASE WHEN is_out = 0 THEN w ELSE 0.0 END')} AS in_weight
      FROM melted GROUP BY node
    )
    SELECT n.n_name AS nation, out_degree, in_degree, out_weight, in_weight
    FROM stats JOIN nation n ON n.n_nationkey = node
    """,
    doc="Directed degree + weighted strength per node in ONE aggregation "
    "pass: each edge melts to two (node, direction, w) rows map-side, "
    "then a single shuffle on node — no join of two per-direction "
    "aggregates. Decimal-fenced weight sums keep the result "
    "order-independent and engine-exact.",
    prepare=_trade_edges,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import degree_stats

    stats = degree_stats(_trade_edges(spark, sf_dir), weight="w")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return stats.join(
        F.broadcast(nation), stats.node == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        "out_degree",
        "in_degree",
        "out_weight",
        "in_weight",
    )


@register(
    "timeseries_twap",
    """
    WITH k AS (
      SELECT event_type, date_trunc('day', ts) AS d, ts, value, event_id
      FROM events
    ),
    s AS (
      SELECT event_type, d, value,
             coalesce(
               lead(ts) OVER (PARTITION BY event_type, d
                              ORDER BY ts, event_id),
               d + INTERVAL 1 DAY) AS nxt,
             ts
      FROM k
    ),
    w AS (
      SELECT event_type, d, value,
             CAST(date_diff('microsecond', ts, nxt) AS DOUBLE)
               / 1000000.0 AS wt
      FROM s
    )
    SELECT event_type, CAST(d AS TIMESTAMP) AS bucket_start,
           round(CAST(sum(CAST(value * wt AS DECIMAL(28,8))) AS DOUBLE)
                 / CAST(sum(CAST(wt AS DECIMAL(28,8))) AS DOUBLE), 6)
             AS twap,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM w GROUP BY event_type, d
    """,
    doc="Time-weighted average price per (series, day): each "
    "observation holds until the next one (lead window partitioned by "
    "series+day — no global sort), the last until midnight; weights "
    "are microsecond intervals in IEEE double, weighted sums "
    "decimal-fenced. The irregular-sampling mean a plain avg() gets "
    "wrong whenever events burst.",
)
def timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import twap

    ev = load_table(spark, sf_dir, "events")
    out = twap(
        ev, ts="ts", value="value", keys=("event_type",), bucket="day",
        tiebreak="event_id",
    )
    return out.select(
        "event_type",
        F.col("bucket_start"),
        trino_round(F.col("twap"), 6).alias("twap"),
        F.col("n_obs").cast("bigint").alias("n_obs"),
    )


@register(
    "privacy_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                AS BIGINT) AS l_diversity,
           count(*) >= 5 AS k_anonymous,
           count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
             AS l_diverse
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
    doc="k-anonymity / l-diversity release audit over quasi-identifiers "
    "(nation, market segment) with bucketed account balance as the "
    "sensitive attribute: one shuffle on the QI key, count-distinct "
    "partially deduplicated map-side — the pre-release "
    "re-identifiability gate a user-adjacent training corpus needs.",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import k_anonymity

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("_sens"),
    )
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment"], sensitive="_sens", k=5, min_l=3
    )


@register(
    "sql_running_distinct",
    """
    WITH firsts AS (
      SELECT event_type, user_id,
             min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    daily AS (
      SELECT event_type, first_day AS d,
             CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY event_type, first_day
    )
    SELECT event_type, d AS day, new_users,
           CAST(sum(new_users) OVER (
             PARTITION BY event_type ORDER BY d
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
    doc="Running COUNT(DISTINCT) over a window — unsupported natively "
    "by both engines — rewritten to the scalable first-touch form: "
    "mark each (series, user)'s first day (one dedup shuffle), count "
    "new users per day, cumulative-sum per series. Shuffle volume is "
    "O(distinct users), never O(events x days).",
)
def sql_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("event_type", "user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = firsts.groupBy(
        "event_type", F.col("first_day").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("new_users"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.col("d").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


@register(
    "agg_mode_median",
    """
    WITH bucketed AS (
      SELECT event_type, value,
             CAST(floor(value) AS BIGINT) AS bucket
      FROM events
    ),
    counts AS (
      SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM bucketed GROUP BY event_type, bucket
    ),
    top AS (
      SELECT c.event_type, min(c.bucket) AS mode_bucket,
             max(c.cnt) AS mode_count
      FROM counts c
      JOIN (SELECT event_type, max(cnt) AS mc FROM counts
            GROUP BY event_type) m
        ON m.event_type = c.event_type AND c.cnt = m.mc
      GROUP BY c.event_type
    ),
    med AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             round(quantile_cont(value, 0.5), 9) AS median_value
      FROM bucketed GROUP BY event_type
    )
    SELECT med.event_type, n_rows, median_value, mode_bucket, mode_count
    FROM med JOIN top USING (event_type)
    """,
    doc="Exact per-group median (interpolated 0.5-quantile — a full "
    "per-group sort Spark runs as a single partial-ordering aggregate, "
    "not a window) and deterministic mode (max count, ties toward the "
    "smallest bucket) — the two order statistics approx_percentile "
    "can't answer exactly.",
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.floor("value").cast("bigint").alias("bucket"),
    )
    counts = ev.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    top = (
        counts.groupBy("event_type")
        .agg(F.max("cnt").alias("mc"))
        .join(counts, "event_type")
        .filter(F.col("cnt") == F.col("mc"))
        .groupBy("event_type")
        .agg(
            F.min("bucket").alias("mode_bucket"),
            F.max("cnt").alias("mode_count"),
        )
    )
    med = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        trino_round(F.expr("percentile(value, 0.5)"), 9).alias(
            "median_value"
        ),
    )
    return med.join(top, "event_type")


@register(
    "join_skew_salted",
    f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           {DSUM('l_quantity')} AS sum_qty,
           {DSUM('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Two-phase salted aggregation for hot GROUP BY keys (3 return "
    "flags over the whole lineitem stream would each funnel into one "
    "reducer): phase 1 groups by (key, salt) spreading every hot key "
    "over 16 reducers, phase 2 merges the <=16 decimal partials per "
    "key — decimals stay decimal between phases so the fence holds "
    "end-to-end. Oracle is the plain single-phase GROUP BY: the "
    "driver cross-checks salting is invisible in the result.",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "n_rows": (F.count(F.lit(1)), F.sum("n_rows")),
            # partials stay DECIMAL so the merge is still order-blind
            "sum_qty": (
                F.sum(F.col("l_quantity").cast("decimal(28,8)")),
                F.sum("sum_qty"),
            ),
            "sum_price": (
                F.sum(F.col("l_extendedprice").cast("decimal(28,8)")),
                F.sum("sum_price"),
            ),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


@register(
    "events_funnel",
    """
    WITH r0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    r1 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN r0 ON e.user_id = r0.user_id AND e.ts > r0.t
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    r2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN r1 ON e.user_id = r1.user_id AND e.ts > r1.t
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'view' AS stage, 0 AS stage_idx,
           CAST((SELECT count(*) FROM r0) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click', 1, CAST((SELECT count(*) FROM r1) AS BIGINT)
    UNION ALL
    SELECT 'purchase', 2, CAST((SELECT count(*) FROM r2) AS BIGINT)
    """,
    doc="Ordered funnel conversion (view -> click -> purchase, strictly "
    "time-ordered per user) in ONE scan + one user-keyed shuffle: each "
    "user aggregates a sorted per-stage timestamp array, the greedy "
    "left-fold (earliest valid event per stage — provably optimal) "
    "runs row-local, and a 1-row aggregate emits the stage counts. "
    "The oracle is the 3-pass join chain; the driver cross-checks the "
    "single-pass fold against it.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessionize import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    out = funnel_counts(
        ev, user="user_id", event_type="event_type", ts="ts",
        stages=["view", "click", "purchase"],
    )
    return out.select(
        "stage",
        F.col("stage_idx").cast("int").alias("stage_idx"),
        F.col("n_users").cast("bigint").alias("n_users"),
    )


@register(
    "basket_pair_histogram",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    capped AS (
      SELECT b, i FROM (
        SELECT b, i,
               row_number() OVER (PARTITION BY b ORDER BY i) AS rn
        FROM items
      ) WHERE rn <= 32
    ),
    pairs AS (
      SELECT x.i AS a, y.i AS b2, CAST(count(*) AS BIGINT) AS n_baskets
      FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i
      GROUP BY x.i, y.i
    )
    SELECT n_baskets,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY n_baskets
    """,
    doc="Market-basket co-occurrence: unordered part pairs per order "
    "generated map-side from each basket's sorted item array (ONE "
    "shuffle to group baskets + one count shuffle on the pair key — "
    "the self-join formulation the oracle uses shuffles the item "
    "stream twice), capped deterministically at 32 items/basket by "
    "sorted item order (mirrored in the oracle via row_number <= 32; "
    "TPC-H baskets are <=7 items, so the cap guards pathological data "
    "without changing this result); summarized as a support histogram "
    "so the driver verifies every pair count, not a top-k slice.",
)
def basket_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import co_occurrence_pairs

    # plain load measured FASTER than load_table_parallel here (r12
    # A/B: 2.2 s vs 2.4 s at sf0.1): the distinct partial-aggregates
    # map-side, so the extra round-robin exchange only adds cost
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = co_occurrence_pairs(
        li, basket="l_orderkey", item="l_partkey", max_basket_size=32
    )
    return pairs.groupBy("n_baskets").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


@register(
    "table_profile_categorical",
    """
    WITH melted AS (
      SELECT 'lang' AS col_name, lang AS val FROM documents
      UNION ALL
      SELECT 'source', source FROM documents
    ),
    counts AS (
      SELECT col_name, val, CAST(count(*) AS BIGINT) AS cnt
      FROM melted GROUP BY col_name, val
    ),
    stats AS (
      SELECT col_name,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CASE WHEN val IS NULL THEN cnt END), 0)
                  AS BIGINT) AS n_null,
             CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct
      FROM counts GROUP BY col_name
    ),
    top AS (
      SELECT c.col_name, min(c.val) AS top_value, max(c.cnt) AS top_count
      FROM counts c
      JOIN (SELECT col_name, max(cnt) AS mc FROM counts
            WHERE val IS NOT NULL GROUP BY col_name) m
        ON m.col_name = c.col_name AND c.cnt = m.mc
      WHERE c.val IS NOT NULL
      GROUP BY c.col_name
    )
    SELECT col_name, n_rows, n_null, n_distinct, top_value, top_count
    FROM stats LEFT JOIN top USING (col_name)
    """,
    doc="Categorical column profiling (row/null/distinct counts + "
    "deterministic modal value) for the documents table's string "
    "columns in ONE scan: stack-melt fused into the scan, per-(col, "
    "value) partial aggregation collapses the stream map-side, so "
    "shuffle volume is the sum of per-column cardinalities.",
)
def table_profile_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_categorical

    docs = load_table(spark, sf_dir, "documents")
    return profile_categorical(docs, ["lang", "source"])


@register(
    "basket_association_rules",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    capped AS (
      SELECT b, i FROM (
        SELECT b, i,
               row_number() OVER (PARTITION BY b ORDER BY i) AS rn
        FROM items
      ) WHERE rn <= 32
    ),
    nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM capped),
    supp AS (SELECT i, CAST(count(*) AS BIGINT) AS s FROM capped GROUP BY 1),
    pairs AS (
      SELECT x.i AS antecedent, y.i AS consequent,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM capped x JOIN capped y ON x.b = y.b AND x.i < y.i
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_ab,
           round(CAST(p.n_ab AS DOUBLE) / sa.s, 6) AS confidence,
           round(CAST(p.n_ab AS DOUBLE) * nb.n / (sa.s * sc.s), 6) AS lift
    FROM pairs p
    JOIN supp sa ON sa.i = p.antecedent
    JOIN supp sc ON sc.i = p.consequent
    CROSS JOIN nb
    WHERE p.n_ab >= 2
    ORDER BY lift DESC, p.antecedent, p.consequent
    LIMIT 100
    """,
    doc="Association rules over the basket pair table: support "
    "(co-occurrence count), confidence (pair support over antecedent "
    "support) and lift (observed over independence-expected "
    "co-occurrence) for every part pair sharing >= 2 orders, top-100 "
    "by lift with a unique (lift, a, b) tiebreak. Composes "
    "co_occurrence_pairs (map-side pair generation from sorted basket "
    "arrays — one basket shuffle + one pair-key shuffle, never a "
    "self-join) with the item-support aggregate of the SAME capped "
    "item stream; support joins are item-keyed (AQE broadcasts when "
    "the catalog-sized support table fits — never forced), the basket "
    "total rides a 1-row cross join, top-100 is TakeOrdered.",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.basket import basket_arrays, co_occurrence_pairs

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # ONE capped basket-array build (distinct + per-basket sorted slice,
    # fenced at one row per basket) feeds all three statistics. The
    # former formulation re-derived the capped stream three times — a
    # row_number window for support, a countDistinct for the basket
    # total, and co_occurrence_pairs' own array build — three full
    # distinct shuffles of the raw rows for identical values: the
    # exploded sliced array IS the 32-smallest-items-per-basket
    # multiset, and the basket count is the array table's row count.
    from ..operators.fencing import fence_if_small

    # Size-guarded fence (one row PER BASKET — corpus-scale at 100 TB,
    # where the guard keeps it lazy and the three consumers replan the
    # map-side basket build instead of materializing billions of rows
    # to executor storage).
    baskets = fence_if_small(
        basket_arrays(
            li, basket="l_orderkey", item="l_partkey", max_basket_size=32
        )
    )
    nb = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    supp = baskets.select(F.explode("items").alias("i")).groupBy("i").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    pairs = co_occurrence_pairs(
        li,
        basket="l_orderkey",
        item="l_partkey",
        max_basket_size=32,
        baskets=baskets,
    ).filter(F.col("n_baskets") >= 2)
    sa = supp.select(F.col("i").alias("_ia"), F.col("s").alias("_sa"))
    sc = supp.select(F.col("i").alias("_ic"), F.col("s").alias("_sc"))
    # No broadcast hint on the support joins: supports have one row per
    # ITEM — eval-sized here but catalog-sized in production, where a
    # forced broadcast would blow the driver (the lsh_precision lesson,
    # ADVICE r10 #3). AQE broadcasts when the support table actually
    # fits; otherwise these are item-keyed shuffles of the (larger)
    # pair stream, which the support filter already pruned.
    return (
        pairs.join(sa, pairs["item_a"] == F.col("_ia"))
        .join(sc, pairs["item_b"] == F.col("_ic"))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("item_a").alias("antecedent"),
            F.col("item_b").alias("consequent"),
            F.col("n_baskets").alias("n_ab"),
            trino_round(
                F.col("n_baskets").cast("double") / F.col("_sa"), 6
            ).alias("confidence"),
            trino_round(
                F.col("n_baskets").cast("double")
                * F.col("n")
                / (F.col("_sa") * F.col("_sc")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(100)
    )


@register(
    "graph_link_prediction",
    f"""
    WITH {_EDGES_SQL},
    und AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             sum(CAST(w AS DECIMAL(38,12))) AS w
      FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    bb AS (
      SELECT a, b FROM und
      QUALIFY row_number() OVER (ORDER BY w DESC, a, b) <= 100
    ),
    adj AS (SELECT a, b FROM bb UNION ALL SELECT b, a FROM bb),
    deg AS (SELECT a, count(*) AS deg FROM adj GROUP BY 1),
    wed AS (
      SELECT m1.a AS x, m2.a AS y, count(*) AS cn
      FROM adj m1 JOIN adj m2 ON m1.b = m2.b AND m1.a < m2.a
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT x, y, cn FROM wed w
      WHERE NOT EXISTS (SELECT 1 FROM bb WHERE bb.a = w.x AND bb.b = w.y)
    ),
    s AS (
      SELECT x, y, cn, da.deg AS deg_a, db.deg AS deg_b,
             round(cn / CAST(da.deg + db.deg - cn AS DOUBLE), 6) AS jaccard
      FROM cand
      JOIN deg da ON da.a = x
      JOIN deg db ON db.a = y
    )
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           CAST(deg_a AS BIGINT) AS deg_a,
           CAST(deg_b AS BIGINT) AS deg_b,
           jaccard
    FROM s
    JOIN nation na ON na.n_nationkey = x
    JOIN nation nb ON nb.n_nationkey = y
    ORDER BY jaccard DESC, x, y LIMIT 20
    """,
    doc="Common-neighbor / Jaccard link prediction (Liben-Nowell & "
    "Kleinberg 2003) over the trade graph's top-100-strongest-edge "
    "backbone (raw nation trade saturates to the complete graph, so "
    "the deterministic weight-top-k sparsification is what makes "
    "'missing link' well-defined at any scale). Every structure past "
    "the first groupBy is k-bounded by construction: adjacency, "
    "degrees, and the middle-node wedge self-join all derive from the "
    "100-edge backbone; existing edges drop via an anti-join "
    "(NOT EXISTS on the oracle side); top-20 by (jaccard DESC, a, b) "
    "is a TakeOrdered, unique-ordered so both engines cut the same "
    "rows (operators/graph.py::link_prediction).",
    prepare=_trade_edges,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import link_prediction

    scored = link_prediction(
        _trade_edges(spark, sf_dir), weight="w", backbone_k=100, top=20
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    na = nation.select(
        F.col("n_nationkey").alias("_ka"), F.col("n_name").alias("nation_a")
    )
    nb = nation.select(
        F.col("n_nationkey").alias("_kb"), F.col("n_name").alias("nation_b")
    )
    return (
        scored.join(F.broadcast(na), scored["node_a"] == F.col("_ka"))
        .join(F.broadcast(nb), scored["node_b"] == F.col("_kb"))
        .select(
            "nation_a",
            "nation_b",
            "common_neighbors",
            "deg_a",
            "deg_b",
            "jaccard",
        )
    )


@register(
    "graph_adamic_adar",
    f"""
    WITH {_EDGES_SQL},
    und AS (
      SELECT least(src, dst) AS a, greatest(src, dst) AS b,
             sum(CAST(w AS DECIMAL(38,12))) AS w
      FROM edges WHERE src <> dst GROUP BY 1, 2
    ),
    bb AS (
      SELECT a, b FROM und
      QUALIFY row_number() OVER (ORDER BY w DESC, a, b) <= 100
    ),
    adj AS (SELECT a, b FROM bb UNION ALL SELECT b, a FROM bb),
    deg AS (SELECT a, count(*) AS deg FROM adj GROUP BY 1),
    wed AS (
      SELECT m1.a AS x, m2.a AS y, m1.b AS z
      FROM adj m1 JOIN adj m2 ON m1.b = m2.b AND m1.a < m2.a
    ),
    wt AS (
      SELECT x, y,
             round(1.0 / ln(d.deg), 8) AS aa_t,
             round(1.0 / d.deg, 8) AS ra_t
      FROM wed JOIN deg d ON d.a = wed.z
    ),
    g AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS common_neighbors,
             round(CAST(sum(CAST(aa_t AS DECIMAL(28,8))) AS DOUBLE), 6)
                 AS adamic_adar,
             round(CAST(sum(CAST(ra_t AS DECIMAL(28,8))) AS DOUBLE), 6)
                 AS resource_alloc
      FROM wt GROUP BY 1, 2
    ),
    cand AS (
      SELECT * FROM g
      WHERE NOT EXISTS (SELECT 1 FROM bb WHERE bb.a = g.x AND bb.b = g.y)
    )
    SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
           common_neighbors, adamic_adar, resource_alloc
    FROM cand
    JOIN nation na ON na.n_nationkey = x
    JOIN nation nb ON nb.n_nationkey = y
    ORDER BY adamic_adar DESC, x, y LIMIT 20
    """,
    doc="Adamic-Adar + resource-allocation link prediction over the "
    "trade-graph backbone: common neighbors weighted by 1/ln(deg) and "
    "1/deg of the MIDDLE node, so hub-mediated coincidences score lower "
    "than niche shared partners — the standard refinement over raw "
    "common-neighbor counts (same k-bounded backbone machinery as "
    "graph_link_prediction; operators/graph.py::adamic_adar; per-wedge "
    "terms round8 + decimal-fenced, TakeOrdered with unique tiebreak).",
    prepare=_trade_edges,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import adamic_adar

    scored = adamic_adar(
        _trade_edges(spark, sf_dir), weight="w", backbone_k=100, top=20
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    na = nation.select(
        F.col("n_nationkey").alias("_ka"), F.col("n_name").alias("nation_a")
    )
    nb = nation.select(
        F.col("n_nationkey").alias("_kb"), F.col("n_name").alias("nation_b")
    )
    return (
        scored.join(F.broadcast(na), scored["node_a"] == F.col("_ka"))
        .join(F.broadcast(nb), scored["node_b"] == F.col("_kb"))
        .select(
            "nation_a",
            "nation_b",
            "common_neighbors",
            "adamic_adar",
            "resource_alloc",
        )
    )


# ---------------------------------------------------------------------------
# Round-15: HITS hubs & authorities over the nation trade graph.
# ---------------------------------------------------------------------------


def _hits_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration HITS as DuckDB CTEs, mirroring
    operators/graph.py::hits term for term (decimal-fenced sums,
    IEEE double normalizer divisions)."""
    sql = f"""
    WITH {_EDGES_SQL},
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ),
    hs0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
    araw{i} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(e.w * s.h AS DECIMAL(28,8))) AS DOUBLE) AS x
      FROM edges e JOIN hs{i - 1} s ON e.src = s.node GROUP BY 1
    ),
    atot{i} AS (
      SELECT CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS t FROM araw{i}
    ),
    a{i} AS (
      SELECT nd.node, coalesce(r.x, CAST(0 AS DOUBLE)) / t.t AS a
      FROM nodes nd CROSS JOIN atot{i} t
      LEFT JOIN araw{i} r ON r.node = nd.node
    ),
    hraw{i} AS (
      SELECT e.src AS node,
             CAST(sum(CAST(e.w * a.a AS DECIMAL(28,8))) AS DOUBLE) AS x
      FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY 1
    ),
    htot{i} AS (
      SELECT CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE) AS t FROM hraw{i}
    ),
    hs{i} AS (
      SELECT nd.node, coalesce(r.x, CAST(0 AS DOUBLE)) / t.t AS h
      FROM nodes nd CROSS JOIN htot{i} t
      LEFT JOIN hraw{i} r ON r.node = nd.node
    )"""
    sql += f"""
    SELECT n.n_name AS nation, s.h AS hub, a.a AS authority
    FROM hs{iters} s
    JOIN a{iters} a USING (node)
    JOIN nation n ON n.n_nationkey = s.node
    """
    return sql


@register(
    "graph_hits",
    _hits_oracle(3),
    doc="Weighted HITS hubs & authorities (Kleinberg 1999; 3 fixed "
    "iterations, L1-normalized per half-step) over the supplier-nation "
    "-> customer-nation trade graph — separates exporter hubs from "
    "importer authorities, the two roles one PageRank conflates. Same "
    "iterative-DataFrame pattern as graph_pagerank: one join+groupBy "
    "shuffle per direction per iteration, 1-row normalizers broadcast "
    "via crossJoin, decimal-fenced sums make the fixpoint "
    "bit-identical to the unrolled-CTE oracle "
    "(operators/graph.py::hits).",
    prepare=_trade_edges,
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits

    edges = _trade_edges(spark, sf_dir)
    # bounded_nodes: the trade graph is nation-level — ≤25 nodes / ≤625
    # edges at ANY scale factor (r19 A/B: 2.44 -> 2.05 s min)
    scores = hits(edges, iterations=3, weight="w", bounded_nodes=True)
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return scores.join(
        F.broadcast(nation), scores.node == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "hub", "authority")
