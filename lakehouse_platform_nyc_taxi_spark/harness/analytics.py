"""Advanced ad-hoc analytics surface (SURVEY.md §2.3-§2.7 extensions).

The reference's Trino endpoint advertises arbitrary interactive SQL over
the marts (README.md:163-167); these queries demonstrate the analytics
capabilities beyond what the dbt models themselves exercise: multi-level
aggregation (ROLLUP / CUBE / GROUPING SETS), exact percentiles, window
frames and offsets, pivot, lateral explode, union-distinct, and the two
time-join operators Spark lacks as builtins — as-of join and range join
— expressed as compositions of native DataFrame ops.

Determinism: double sums/averages go through decimal(28,8) (see
harness.core.dsum); every computed column is aliased identically on both
faces; window orderings always carry a unique tiebreak column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.trino import trino_round
from ..sources.testdata import load_table, load_table_parallel
from . import register, session_artifact
from .core import DAVG, DSUM, davg, dsum
from .mining import _trade_edges

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --------------------------------------------------------------------------
# Multi-level aggregation: ROLLUP / CUBE / GROUPING SETS (A-extensions)
# --------------------------------------------------------------------------


@register(
    "agg_rollup",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
           CAST(month(o_orderdate) AS INTEGER) AS month,
           CAST(GROUPING(year(o_orderdate)) AS INTEGER) AS g_year,
           CAST(GROUPING(month(o_orderdate)) AS INTEGER) AS g_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           {DSUM('o_totalprice')} AS revenue
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
    """,
    doc="ROLLUP (year, month) with GROUPING markers: hierarchical subtotals "
    "+ grand total in one pass — Spark plans a single Expand+HashAggregate, "
    "no per-level rescan.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("year"),
        F.month("o_orderdate").cast("int").alias("month"),
        "o_totalprice",
    )
    return (
        o.rollup("year", "month")
        .agg(
            F.grouping("year").cast("int").alias("g_year"),
            F.grouping("month").cast("int").alias("g_month"),
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .select("year", "month", "g_year", "g_month", "n_orders", "revenue")
    )


@register(
    "agg_cube",
    f"""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           {DAVG('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE (status, priority): all 2^2 grouping combinations in one "
    "Expand+HashAggregate pass.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
    )
    return (
        o.cube("status", "priority")
        .agg(
            F.grouping("status").cast("int").alias("g_status"),
            F.grouping("priority").cast("int").alias("g_priority"),
            F.count("*").alias("n_orders"),
            davg("o_totalprice").alias("avg_price"),
        )
        .select("status", "priority", "g_status", "g_priority", "n_orders", "avg_price")
    )


@register(
    "agg_grouping_sets",
    f"""
    SELECT l_returnflag AS returnflag,
           l_linestatus AS linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
           CAST(count(*) AS BIGINT) AS n_items,
           {DSUM('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS ((rf), (ls), ()): disjoint grouping "
    "combinations without the full cube.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            F.col("l_returnflag"),
            F.col("l_linestatus"),
        )
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            "g_rf",
            "g_ls",
            "n_items",
            "sum_qty",
        )
    )


@register(
    "agg_percentiles",
    """
    SELECT l_returnflag AS returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact continuous percentiles (sort-based exact, matching "
    "quantile_cont interpolation); approx_percentile is the documented "
    "100 TB escape hatch (sketch-based, engine-specific values).",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel loader: exact percentiles sort within groups — CPU-bound
    li = load_table_parallel(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        trino_round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        trino_round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        trino_round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "agg_percentiles_approx",
    """
    SELECT l_returnflag AS returnflag,
           quantile_disc(l_quantity, 0.25) AS p25,
           quantile_disc(l_quantity, 0.5) AS p50,
           quantile_disc(l_quantity, 0.9) AS p90,
           quantile_disc(l_quantity, 0.99) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Sketch percentiles — the 100 TB twin of agg_percentiles: "
    "approx_percentile (Greenwald-Khanna, accuracy 10000) is a one-pass "
    "mergeable sketch (map-side partial, no sort), vs the exact "
    "variant's per-group sort. Oracle-matchable on the LOW-CARDINALITY "
    "quantity column: with ~50 distinct values each covering thousands "
    "of ranks, the sketch's <=eps*n rank error never crosses a value "
    "boundary, so the discrete quantile equals DuckDB's quantile_disc "
    "(verified at sf0.001/0.01/0.1; the high-cardinality price column "
    "is the genuinely-approximate case, bounded by a pytest tolerance "
    "check instead).",
)
def agg_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ap = F.expr(
        "approx_percentile(l_quantity, array(0.25, 0.5, 0.9, 0.99), 10000)"
    )
    return (
        li.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(ap.alias("_ap"))
        .select(
            "returnflag",
            F.col("_ap")[0].alias("p25"),
            F.col("_ap")[1].alias("p50"),
            F.col("_ap")[2].alias("p90"),
            F.col("_ap")[3].alias("p99"),
        )
    )


@register(
    "agg_approx_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
    doc="approx_count_distinct (HyperLogLog++) per event_type — the "
    "cardinality-estimation scale path. The raw sketch estimate is "
    "engine-specific, so the oracle pairs the exact count plus a "
    "`within_bound` flag asserting |approx-exact| <= max(3*rsd*exact, 5) "
    "(3 standard errors at rsd=0.05, floored for tiny groups where "
    "HLL++'s sparse mode is exact anyway). The flag is TRUE on the "
    "oracle side, so a sketch drifting past its published error bound "
    "flips the hash red.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.05  # Spark's default relative standard deviation for HLL++
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.ceil(3 * rsd * F.col("exact_users")), F.lit(5)
                )
            ).alias("within_bound"),
        )
    )


@register(
    "agg_hll_mergeable_rollup",
    """
    SELECT event_type,
           CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_daily_sketches,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events
    GROUP BY event_type
    """,
    doc="MERGEABLE sketch rollup (Apache DataSketches HLL, Spark 4 "
    "hll_sketch_agg/hll_union_agg): per-(day, type) user sketches union "
    "into per-type totals WITHOUT touching raw rows again — the 100 TB "
    "pre-aggregation pattern (daily sketch partials persist; any rollup "
    "window is a sketch union, never a re-scan; the same fold the "
    "incremental-MV HLL columns use). Oracle pairs the exact count plus "
    "a within_bound flag at lgK=12 (rsd~1.6%), same contract as "
    "agg_approx_distinct.",
)
def agg_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rsd = 1.04 / (2**12) ** 0.5  # DataSketches HLL default lgConfigK=12
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("_day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("_sk"))
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est"),
        F.count("*").alias("n_daily_sketches"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return rolled.join(exact, "event_type").select(
        "event_type",
        "n_daily_sketches",
        "exact_users",
        (
            F.abs(F.col("_est") - F.col("exact_users"))
            <= F.greatest(F.ceil(3 * rsd * F.col("exact_users")), F.lit(5))
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# Window frames / offsets (§2.5 extensions)
# --------------------------------------------------------------------------


@register(
    "window_moving_avg",
    f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               {DSUM('value')} AS daily_value
        FROM events
        GROUP BY 1
    )
    SELECT d, daily_value,
           CAST(sum(CAST(daily_value AS DECIMAL(28,8)))
                    OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / count(*) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS mov_avg_7d
    FROM daily
    """,
    doc="7-row moving average over a daily rollup: ROWS BETWEEN frame on an "
    "ordered window — one shuffle for the rollup, one sort for the window.",
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(dsum("value").alias("daily_value"))
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "d",
        "daily_value",
        (
            F.sum(F.col("daily_value").cast("decimal(28,8)")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("mov_avg_7d"),
    )


@register(
    "window_lead_lag",
    """
    SELECT o_custkey AS customer_id,
           o_orderkey AS order_id,
           o_totalprice AS total_price,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           o_totalprice - coalesce(lag(o_totalprice) OVER w, o_totalprice) AS delta_vs_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead offsets per customer order sequence (unique "
    "(orderdate, orderkey) tiebreak makes the frame deterministic).",
)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("order_id"),
        F.col("o_totalprice").alias("total_price"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (
            F.col("o_totalprice")
            - F.coalesce(F.lag("o_totalprice").over(w), F.col("o_totalprice"))
        ).alias("delta_vs_prev"),
    )


# --------------------------------------------------------------------------
# Pivot / lateral explode / union-distinct
# --------------------------------------------------------------------------


@register(
    "pivot_event_values",
    f"""
    SELECT user_id,
           {', '.join(f"{DSUM(f'CASE WHEN event_type = {t!r} THEN value END')} AS {t}_value" for t in EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
    doc="Pivot on event_type with an explicit value list (one "
    "Expand-free hash aggregation; the oracle face is the equivalent "
    "sum-of-case — what pivot compiles to).",
)
def pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(dsum("value"))
    )
    return pivoted.select(
        "user_id", *[F.col(t).alias(f"{t}_value") for t in EVENT_TYPES]
    )


@register(
    "lateral_explode_tokens",
    r"""
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
    FROM documents
    WHERE doc_id < 100
    """,
    doc="Lateral explode (UNNEST): one row per whitespace token — Generate "
    "is pipelined into the scan, no shuffle.",
)
def lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return docs.select("doc_id", F.explode(tokens("text")).alias("token"))


@register(
    "union_distinct",
    """
    SELECT o_custkey AS customer_id FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    """,
    doc="UNION (distinct): union + dedup in one hash-aggregate shuffle "
    "(complements the positional UNION ALL in union_all_typed_nulls).",
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("customer_id")
    )
    big_side = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("customer_id")
    )
    return f_side.union(big_side).distinct()


# --------------------------------------------------------------------------
# Interactive SQL surface (§3.3: the Trino-endpoint ad-hoc entry point)
# --------------------------------------------------------------------------


@register(
    "sql_adhoc_interactive",
    f"""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
           o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           {DSUM('o_totalprice')} AS revenue
    FROM orders
    GROUP BY 1, 2
    HAVING count(*) > 100
    ORDER BY year, status
    LIMIT 20
    """,
    doc="The §3.3 interactive entry point: raw SQL over registered views "
    "via spark.sql — ordinal GROUP BY, HAVING, ORDER BY + LIMIT, exactly "
    "the ad-hoc shape the reference's Trino endpoint serves "
    "(reference: README.md:163-167).",
)
def sql_adhoc_interactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT CAST(year(o_orderdate) AS INT) AS year,
               o_orderstatus AS status,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,8))) AS DOUBLE) AS revenue
        FROM orders
        GROUP BY 1, 2
        HAVING count(*) > 100
        ORDER BY year, status
        LIMIT 20
        """
    )


# --------------------------------------------------------------------------
# Outer joins (§2.3: completing the Trino-endpoint join surface)
# --------------------------------------------------------------------------


@register(
    "join_full_outer",
    f"""
    WITH co AS (
        SELECT o_custkey AS cid, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ),
    ce AS (
        SELECT user_id AS cid, CAST(count(*) AS BIGINT) AS n_events,
               {DSUM('value')} AS event_value
        FROM events GROUP BY 1
    )
    SELECT coalesce(co.cid, ce.cid) AS customer_id,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(n_events, 0) AS n_events,
           event_value
    FROM co FULL OUTER JOIN ce ON co.cid = ce.cid
    """,
    doc="Full-outer join of two pre-aggregated sides with coalesced keys — "
    "aggregate-then-join keeps the shuffled sides minimal.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    co = o.groupBy(F.col("o_custkey").alias("cid")).agg(F.count("*").alias("n_orders"))
    ce = ev.groupBy(F.col("user_id").alias("cid")).agg(
        F.count("*").alias("n_events"), dsum("value").alias("event_value")
    )
    return (
        co.alias("co")
        .join(ce.alias("ce"), F.col("co.cid") == F.col("ce.cid"), "full_outer")
        .select(
            F.coalesce(F.col("co.cid"), F.col("ce.cid")).alias("customer_id"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "event_value",
        )
    )


@register(
    "join_right_outer",
    """
    SELECT c.c_custkey AS customer_id,
           c.c_name AS customer_name,
           o.o_orderkey AS order_id
    FROM orders o
    RIGHT OUTER JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey < 200
    """,
    doc="Right-outer join preserving customers without orders (the mirror "
    "of join_left_outer; Spark plans it as the same hash join build-side "
    "swapped).",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"], "right_outer")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("customer_name"),
            F.col("o_orderkey").alias("order_id"),
        )
    )


# --------------------------------------------------------------------------
# Time joins: as-of and range (§2.3 extensions — operators Spark lacks
# as builtins, composed from native ops)
# --------------------------------------------------------------------------


@register(
    "join_asof",
    """
    WITH j AS (
        SELECT e.event_id, o.o_orderkey, o.o_orderdate,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id,
           o_orderkey AS asof_orderkey,
           CAST(o_orderdate AS DATE) AS asof_orderdate
    FROM j WHERE rn = 1
    """,
    doc="As-of join (latest order at-or-before each event, per customer) "
    "via the union+sort+last_value(ignorenulls) trick: ONE shuffle on the "
    "customer key and a per-partition ordered window — never a pairwise "
    "time-range join, which is what keeps it linear at 100 TB.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    orders_side = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_order"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate").alias("odate"),
        F.lit(None).cast("long").alias("event_id"),
    )
    events_side = ev.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_order"),
        F.lit(None).cast("long").alias("okey"),
        F.lit(None).cast("timestamp").alias("odate"),
        "event_id",
    )
    # Orders sort before events at equal timestamps (is_order DESC) so an
    # order on the event's own day matches; okey ASC makes the carried
    # value the max orderkey among same-date orders (mirrors the oracle's
    # DESC row_number tiebreak).
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_order").desc(), F.col("okey").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = orders_side.unionByName(events_side).select(
        "event_id",
        "is_order",
        F.last("okey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("odate", ignorenulls=True).over(w).alias("asof_odate"),
    )
    return (
        carried.filter((F.col("is_order") == 0) & F.col("asof_orderkey").isNotNull())
        .select(
            "event_id",
            "asof_orderkey",
            F.to_date("asof_odate").alias("asof_orderdate"),
        )
    )


@register(
    "join_range",
    f"""
    SELECT o.o_orderkey AS order_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {DSUM('e.value')} AS total_value
    FROM orders o
    JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts < o.o_orderdate + INTERVAL 7 DAY
    GROUP BY o.o_orderkey
    """,
    doc="Range join (events within 7 days after each order, same customer): "
    "equi-key on the customer hash-partitions the work; the time-range "
    "predicate is evaluated inside the hash match, so no cartesian blowup.",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (F.col("e.user_id") == F.col("o.o_custkey"))
        & (F.col("e.ts") >= F.col("o.o_orderdate"))
        & (F.col("e.ts") < F.col("o.o_orderdate") + F.expr("INTERVAL 7 DAY"))
    )
    return (
        o.alias("o")
        .join(ev.alias("e"), cond)
        .groupBy(F.col("o.o_orderkey").alias("order_id"))
        .agg(F.count("*").alias("n_events"), dsum("e.value").alias("total_value"))
    )


_RECURSIVE_CHAIN_SQL = """
    WITH RECURSIVE seq AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
        FROM orders
        WHERE o_custkey % 10 = 7
    ),
    chain AS (
        SELECT o_custkey, o_orderkey, rn,
               CAST(o_totalprice AS DECIMAL(28,8)) AS cum
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.o_custkey, s.o_orderkey, s.rn,
               CAST(c.cum + CAST(s.o_totalprice AS DECIMAL(28,8))
                    AS DECIMAL(28,8))
        FROM chain c
        JOIN seq s ON s.o_custkey = c.o_custkey AND s.rn = c.rn + 1
        WHERE c.rn < 6
    )
    SELECT o_custkey, o_orderkey, rn AS seq,
           CAST(cum AS DOUBLE) AS cum_spend
    FROM chain
"""


@register(
    "sql_recursive_chain",
    _RECURSIVE_CHAIN_SQL,
    doc="WITH RECURSIVE (Spark 4 recursive CTE execution): walks each "
    "customer's order chain in order-date sequence, accumulating spend "
    "in exact decimal per step (the early-customer spend ramp: each "
    "customer's first six orders) — anchor = first order per customer, "
    "one recursive join per depth level (depth capped at 6: recursion "
    "cost is per-LEVEL scheduling, "
    "and the engine re-evaluates the "
    "prep CTE per level, so the query scopes to a deterministic 10% "
    "customer cohort — the drill-down shape recursion serves). "
    "IDENTICAL SQL text runs on "
    "the DuckDB oracle — the ad-hoc Trino-endpoint parity point "
    "(reference README.md:163-167 advertises full SQL, incl. recursion).",
)
def sql_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_RECURSIVE_CHAIN_SQL)


@register(
    "agg_histogram",
    f"""
    SELECT event_type,
           CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           {DSUM('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Fixed-width value histogram per event type (the width_bucket "
    "shape Trino's endpoint serves): bucket id from one deterministic "
    "double division + floor, map-side-combined counts, decimal-fenced "
    "sums. One shuffle carrying (type, bucket) cells.",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / F.lit(50.0)).cast("long").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select("event_type", "bucket", "n_events", "total_value")
    )


_CORR_SUBQ_SQL = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2.0 * (
        SELECT avg(o2.o_totalprice)
        FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
"""


@register(
    "sql_correlated_subquery",
    _CORR_SUBQ_SQL,
    doc="Correlated scalar subquery (orders beating 2x their customer's "
    "average): Catalyst decorrelates it into one aggregate + one join — "
    "no per-row re-execution, the plan any hand decorrelation would "
    "write. Identical SQL text runs on the oracle. Exact-comparison "
    "filter on the unrounded average in both engines (single avg "
    "division is IEEE-deterministic).",
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_CORR_SUBQ_SQL)


@register(
    "cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, CAST(min(date_trunc('week', ts)) AS TIMESTAMP)
                   AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST((epoch_us(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                     - epoch_us(f.cohort_week))
                    // CAST(604800000000 AS BIGINT) AS BIGINT) AS week_no
        FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_no, CAST(count(*) AS BIGINT) AS n_active
    FROM activity
    GROUP BY cohort_week, week_no
    """,
    doc="Cohort retention matrix (users by first-activity week x weeks "
    "since): the standard product-analytics rollup. One shuffle derives "
    "first-touch cohorts, the cohort table joins back user-keyed, "
    "distinct (user, week) dedups before the cell counts — all integer "
    "arithmetic on epoch microseconds, bit-exact.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("timestamp_ntz").alias("cohort_week")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.expr(
                    "timestampdiff(MICROSECOND, cohort_week,"
                    " cast(date_trunc('week', ts) as timestamp_ntz))"
                )
                / F.lit(7 * 86400 * 1000000)
            )
            .cast("long")
            .alias("week_no"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_no").agg(
        F.count(F.lit(1)).alias("n_active")
    )


# --------------------------------------------------------------------------
# Round-5 wave 2: iterative graph analytics, blocked fuzzy join,
# sweep-line interval overlap, one-pass table profiling
# --------------------------------------------------------------------------


def _pagerank_oracle(iters: int = 3, damping: str = "0.85") -> str:
    """Unrolled fixed-iteration PageRank as DuckDB CTEs, mirroring
    operators/graph.py term for term (all literals forced to DOUBLE so
    DuckDB's decimal literal arithmetic can't diverge from IEEE)."""
    d = f"CAST({damping} AS DOUBLE)"
    sql = """
    WITH edges AS (
      SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    nodes AS (
      SELECT DISTINCT src AS node FROM edges
      UNION
      SELECT DISTINCT dst AS node FROM edges
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outw AS (
      SELECT src, CAST(sum(CAST(w AS DECIMAL(28,8))) AS DOUBLE) AS ow
      FROM edges GROUP BY src
    ),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn
    )"""
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        sql += f""",
    c{i} AS (
      SELECT e.dst AS node,
             CAST(sum(CAST(r.rank * e.w / o.ow AS DECIMAL(28,8))) AS DOUBLE)
               AS contrib
      FROM edges e
      JOIN {p} r ON e.src = r.node
      JOIN outw o ON e.src = o.src
      GROUP BY e.dst
    ),
    d{i} AS (
      SELECT coalesce(CAST(sum(CAST(r.rank AS DECIMAL(28,8))) AS DOUBLE),
                      CAST(0 AS DOUBLE)) AS dm
      FROM {p} r WHERE r.node NOT IN (SELECT src FROM outw)
    ),
    r{i} AS (
      SELECT nd.node,
             (CAST(1.0 AS DOUBLE) - {d}) / nn.n
               + {d} * (coalesce(c.contrib, CAST(0 AS DOUBLE)) + d.dm / nn.n)
               AS rank
      FROM nodes nd
      CROSS JOIN nn
      CROSS JOIN d{i} d
      LEFT JOIN c{i} c ON nd.node = c.node
    )"""
    sql += f"""
    SELECT n.n_name AS nation, r.rank AS rank
    FROM r{iters} r JOIN nation n ON r.node = n.n_nationkey
    """
    return sql


@register(
    "graph_pagerank",
    _pagerank_oracle(3),
    doc="Weighted PageRank (3 fixed iterations, d=0.85) over the "
    "supplier-nation -> customer-nation trade graph: the Spark-native "
    "iterative-algorithm pattern — rank vector as a DataFrame, one "
    "join+groupBy shuffle per iteration, 1-row dangling/normalization "
    "aggregates broadcast via crossJoin, nothing collected. Per-edge "
    "terms in IEEE double + decimal-fenced sums make the fixpoint "
    "bit-identical to the unrolled-CTE oracle.",
    prepare=_trade_edges,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    # shared session-cached edge table (mining._trade_edges): the same
    # materialize-once artifact pagerank/triangles/degrees/LPA all read
    edges = _trade_edges(spark, sf_dir)
    # bounded_nodes: nation-level graph, <=25 nodes at ANY scale factor
    # (r19 A/B: 1.23 -> 1.18 s min — locally near-neutral, but each
    # iteration drops all 8 SortMergeJoins for broadcast joins and the
    # anti-join dangling subtree folds into the per-node frame;
    # bit-identical at sf0.01/sf0.1)
    ranks = pagerank(
        edges, iterations=3, damping=0.85, weight="w", bounded_nodes=True
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return ranks.join(
        F.broadcast(nation), ranks.node == nation.n_nationkey
    ).select(F.col("n_name").alias("nation"), "rank")


@register(
    "fuzzy_join_suppliers",
    """
    WITH base AS (
      SELECT s_suppkey AS k,
             regexp_replace(substring(s_name, 10, 9), '^0+', '') AS t
      FROM supplier
    )
    SELECT a.k AS supp_a, b.k AS supp_b,
           a.t AS digits_a, b.t AS digits_b,
           CAST(levenshtein(a.t, b.t) AS INT) AS dist
    FROM base a
    JOIN base b ON a.k < b.k
    WHERE levenshtein(a.t, b.t) <= 1
    """,
    doc="PassJoin-blocked fuzzy self-join on VARIABLE-length strings "
    "(zero-stripped supplier ids): all pairs within edit distance 1, "
    "cross-length included; candidates come from an equi-join of "
    "segment keys against length-grouped, shift-windowed substring "
    "probes (the pigeonhole lemma makes this COMPLETE for the general "
    "edit-distance contract) — no CartesianProduct in the plan (pinned "
    "in test_plans), then an exact levenshtein verify. The oracle is "
    "the naive all-pairs formulation, so the driver cross-checks that "
    "blocking loses nothing.",
)
def fuzzy_join_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_join

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.regexp_replace(
            F.substring("s_name", 10, 9), "^0+", ""
        ).alias("digits"),
    )
    pairs = fuzzy_self_join(s, key="s_suppkey", text="digits", max_dist=1)
    return pairs.select(
        F.col("key_a").alias("supp_a"),
        F.col("key_b").alias("supp_b"),
        F.col("text_a").alias("digits_a"),
        F.col("text_b").alias("digits_b"),
        F.col("dist").cast("int").alias("dist"),
    )


@register(
    "agg_histogram_percentile_rollup",
    """
    WITH b AS (
      SELECT event_type,
             CAST(least(floor(value / 5), 119) AS INT) AS bin
      FROM events
      WHERE value IS NOT NULL
    ),
    h AS (
      SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY 1, 2
    ),
    c AS (
      SELECT *,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin) - n AS cum_before
      FROM h
    ),
    t AS (SELECT event_type, sum(n) AS tot FROM h GROUP BY 1),
    x AS (
      SELECT c.*, t.tot, p.p
      FROM c JOIN t USING (event_type),
           (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.95 AS DOUBLE))) p(p)
    ),
    hit AS (SELECT * FROM x WHERE cum >= p * tot),
    fb AS (SELECT event_type, p, min(bin) AS bin FROM hit GROUP BY 1, 2)
    SELECT f.event_type, f.p,
           round(f.bin * 5 + 5 * (x.p * x.tot - x.cum_before) / x.n, 6)
               AS est_value,
           CAST(x.tot AS BIGINT) AS n_total
    FROM fb f
    JOIN x ON x.event_type = f.event_type AND x.p = f.p AND x.bin = f.bin
    """,
    doc="MERGEABLE percentile rollup from binned partials: fixed-width "
    "value histograms (per-day partials union by simple bin-count "
    "addition — the deterministic counterpart to quantile sketches) -> "
    "cumulative sums -> linear interpolation inside the target bin for "
    "p50/p95. Unlike t-digest/GK this is exactly reproducible in any "
    "engine, so the oracle hash-matches the estimates to 6 decimals. "
    "Accuracy is bounded by bin width ONLY inside the sized range "
    "[0, n_bins*width); the last bin is a catch-all whose error is "
    "unbounded, so n_bins is sized to cover the data (testdata max "
    "~560 < 600). NULL values are filtered identically on both sides: "
    "Spark windows sort NULLs first, DuckDB last, so an unfiltered "
    "NULL bin would silently diverge (ADVICE r8).",
)
def agg_histogram_percentile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    width, n_bins = 5.0, 120
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.date_trunc("day", "ts").alias("_day"),
            F.least(F.floor(F.col("value") / width), F.lit(n_bins - 1))
            .cast("int")
            .alias("bin"),
        )
        .groupBy("_day", "event_type", "bin")
        .agg(F.count("*").alias("_cnt"))
    )
    hist = daily.groupBy("event_type", "bin").agg(F.sum("_cnt").alias("n"))
    w = Window.partitionBy("event_type").orderBy("bin")
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "cum_before", F.col("cum") - F.col("n")
    )
    tot = hist.groupBy("event_type").agg(F.sum("n").alias("tot"))
    x = cum.join(tot, "event_type").select(
        "*", F.explode(F.array(F.lit(0.5), F.lit(0.95))).alias("p")
    )
    hit = x.filter(F.col("cum") >= F.col("p") * F.col("tot"))
    fb = hit.groupBy("event_type", "p").agg(
        F.min_by(F.struct("bin", "n", "cum_before"), "bin").alias("b"),
        F.min("tot").alias("tot"),
    )
    est = F.col("b.bin") * width + width * (
        F.col("p") * F.col("tot") - F.col("b.cum_before")
    ) / F.col("b.n")
    return fb.select(
        "event_type",
        "p",
        trino_round(est, 6).alias("est_value"),
        F.col("tot").cast("bigint").alias("n_total"),
    )


def _er_supplier_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.col("s_nationkey").alias("nk"),
        F.regexp_replace(F.substring("s_name", 10, 9), "^0+", "").alias(
            "digits"
        ),
    )


def _er_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-blocked fuzzy pair table for entity resolution; a
    localCheckpointed ``session_artifact`` like dedup_clusters'
    _cluster_pairs — in production the match-pair table is materialized
    once and the clustering/golden-record step runs from it."""
    return session_artifact(spark, sf_dir, "er_pairs", _build_er_pairs)


def _build_er_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_self_join

    s = _er_supplier_base(spark, sf_dir)
    raw_pairs = fuzzy_self_join(
        s.select("s_suppkey", "digits"),
        key="s_suppkey",
        text="digits",
        max_dist=1,
    )
    nk = s.select("s_suppkey", "nk")
    return (
        raw_pairs.join(
            nk.select(F.col("s_suppkey").alias("key_a"), F.col("nk").alias("_nka")),
            "key_a",
        )
        .join(
            nk.select(F.col("s_suppkey").alias("key_b"), F.col("nk").alias("_nkb")),
            "key_b",
        )
        .filter(F.col("_nka") == F.col("_nkb"))
        .localCheckpoint()
    )



@register(
    "entity_resolution_golden",
    """
    WITH RECURSIVE base AS (
      SELECT s_suppkey AS k, s_nationkey AS nk,
             regexp_replace(substring(s_name, 10, 9), '^0+', '') AS t
      FROM supplier
    ),
    p AS (
      SELECT a.k AS ka, b.k AS kb
      FROM base a JOIN base b ON a.k < b.k AND a.nk = b.nk
      WHERE levenshtein(a.t, b.t) <= 1
    ),
    e AS (
      SELECT ka AS src, kb AS dst FROM p
      UNION
      SELECT kb AS src, ka AS dst FROM p
    ),
    reach AS (
      SELECT src, dst FROM e
      UNION
      SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
    ),
    lab AS (
      SELECT src AS id, least(src, min(dst)) AS cluster
      FROM reach GROUP BY src
    ),
    gold AS (
      SELECT b.k AS id, b.t, COALESCE(l.cluster, b.k) AS cluster
      FROM base b LEFT JOIN lab l ON b.k = l.id
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_members,
           min_by(t, id) AS canonical_digits
    FROM gold
    GROUP BY cluster
    """,
    doc="End-to-end entity resolution (r8): PassJoin-blocked fuzzy pairs "
    "restricted to a blocking attribute (same nation — without it, "
    "near-sequential ids connect transitively into one giant "
    "component) -> connected components -> one golden record per "
    "entity cluster (canonical = the lowest-key member's attributes, "
    "min_by — no sort-per-group), singletons kept as their own cluster "
    "via the left join. The stages are the already-verified fuzzy-join "
    "and CC operators composed; the oracle replays them as naive "
    "all-pairs levenshtein + recursive transitive closure.",
    prepare=_er_pairs,
)
def entity_resolution_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    s = _er_supplier_base(spark, sf_dir)
    cc = connected_components(_er_pairs(spark, sf_dir), id_a="key_a", id_b="key_b")
    labeled = s.join(cc, s.s_suppkey == cc.id, "left").select(
        "s_suppkey",
        "digits",
        F.coalesce("cluster", "s_suppkey").alias("cluster"),
    )
    return labeled.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min_by("digits", "s_suppkey").alias("canonical_digits"),
    ).select(
        F.col("cluster").cast("bigint").alias("cluster"),
        "n_members",
        "canonical_digits",
    )


@register(
    "events_max_concurrency",
    """
    WITH iv AS (
      SELECT event_type, ts AS s,
             ts + to_seconds(CAST(round(value * 60) AS BIGINT)) AS e
      FROM events
    ),
    valid AS (
      SELECT * FROM iv
      WHERE s IS NOT NULL AND e IS NOT NULL AND e >= s
    ),
    pts AS (
      SELECT event_type, s AS t, 1 AS delta FROM valid
      UNION ALL
      SELECT event_type, e AS t, -1 AS delta FROM valid
    ),
    curve AS (
      SELECT event_type,
             sum(delta) OVER (
               PARTITION BY event_type ORDER BY t, delta
               ROWS UNBOUNDED PRECEDING
             ) AS concurrency
      FROM pts
    )
    SELECT event_type,
           CAST(max(concurrency) AS BIGINT) AS max_concurrent,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals
    FROM curve
    GROUP BY event_type
    """,
    doc="Sweep-line interval-overlap: treat each event as an interval "
    "[ts, ts + value minutes] and find the peak concurrency per event "
    "type — +1/-1 boundary points, per-group window running sum, max. "
    "O(n log n) per group vs the naive O(n^2) self-join; closes sort "
    "before opens so touching intervals don't overlap.",
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import max_concurrency

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("s"),
        F.expr(
            "timestampadd(SECOND, CAST(round(value * 60) AS INT), ts)"
        ).alias("e"),
    )
    return max_concurrency(ev, start="s", end="e", keys=["event_type"])


@register(
    "table_profile_numeric",
    f"""
    WITH src AS (
      SELECT CAST(l_quantity AS DOUBLE) AS q,
             CAST(l_extendedprice AS DOUBLE) AS ep,
             CAST(l_discount AS DOUBLE) AS disc,
             CAST(l_tax AS DOUBLE) AS tax
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT q) AS BIGINT) AS n_distinct,
           min(q) AS min_val, max(q) AS max_val, {DAVG('q')} AS mean_val
    FROM src
    UNION ALL
    SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN ep IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT ep) AS BIGINT),
           min(ep), max(ep), {DAVG('ep')}
    FROM src
    UNION ALL
    SELECT 'l_discount', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN disc IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT disc) AS BIGINT),
           min(disc), max(disc), {DAVG('disc')}
    FROM src
    UNION ALL
    SELECT 'l_tax', CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT tax) AS BIGINT),
           min(tax), max(tax), {DAVG('tax')}
    FROM src
    """,
    doc="One-pass numeric profiling (DuckDB SUMMARIZE analogue as a "
    "DataFrame): row/null/distinct counts + min/max/decimal-fenced mean "
    "for four lineitem measures — melt to (col_name, val) at the scan, "
    "one grouped aggregation, count-distinct deduped map-side.",
)
def table_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_numeric

    # parallel load: the melt + partial aggregate is CPU-bound per row
    # and the single row group would pin it to one task (r12 perf pass)
    li = load_table_parallel(spark, sf_dir, "lineitem")
    return profile_numeric(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@register(
    "timeseries_ohlc",
    """
    WITH keyed AS (
      SELECT event_type,
             date_trunc('hour', ts) AS slot,
             value,
             lpad(CAST(date_diff('microsecond',
                                 TIMESTAMP '2024-01-01 00:00:00', ts)
                       + 5000000000000000 AS VARCHAR), 16, '0')
               || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ord
      FROM events
    )
    SELECT event_type, slot,
           arg_min(value, ord) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ord) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS volume
    FROM keyed
    GROUP BY event_type, slot
    """,
    doc="OHLC bar resampling (open/high/low/close + volume per hour per "
    "series): open/close via arg-extreme aggregates over a fixed-width "
    "(micros-offset, event_id) string key — one partial-agg shuffle "
    "carrying a single (value, key) pair per group, deterministic under "
    "timestamp ties, where the window row_number formulation would sort "
    "every group twice.",
)
def timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # +5e15 µs (~158 years) biases the epoch offset non-negative: a
    # bare offset for a pre-2024 ts would be a negative number whose
    # zero-padded string sorts BEFORE positives lexically but AFTER
    # them numerically, silently mis-ordering open/close. The bias
    # keeps the key sign-safe for any ts in [1865, 2182] and still
    # fits the 16-char field.
    ord_key = F.concat(
        F.lpad(
            F.expr(
                "cast(timestampdiff(MICROSECOND,"
                " timestamp_ntz'2024-01-01 00:00:00',"
                " cast(ts as timestamp_ntz))"
                " + 5000000000000000 as string)"
            ),
            16,
            "0",
        ),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )
    keyed = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("slot"),
        "value",
        ord_key.alias("ord"),
    )
    return keyed.groupBy("event_type", "slot").agg(
        F.min_by("value", "ord").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "ord").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("volume"),
    )


_LATERAL_TOPN_SQL = """
    SELECT n.n_name AS nation, t.c_name AS customer, t.c_acctbal AS acctbal
    FROM nation n,
    LATERAL (
      SELECT c.c_name, c.c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c.c_acctbal DESC, c.c_custkey
      LIMIT 2
    ) t
"""


@register(
    "sql_lateral_topn",
    _LATERAL_TOPN_SQL,
    doc="Correlated LATERAL table subquery (Spark 3.2+ lateral join): "
    "top-2 customers by balance per nation, written as the for-each-row "
    "subquery shape analysts reach for. Catalyst decorrelates it into "
    "a ranked join — no per-nation re-execution. IDENTICAL SQL text "
    "runs on the DuckDB oracle (ad-hoc Trino-endpoint parity, reference "
    "README.md:163-167). Tie-broken by c_custkey, so deterministic.",
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.testdata import register_views

    register_views(spark, sf_dir, ("nation", "customer"))
    return spark.sql(_LATERAL_TOPN_SQL)


@register(
    "dedup_latest_record",
    """
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) ranked
    WHERE rn = 1
    """,
    doc="CDC latest-record dedup (the QUALIFY row_number() = 1 pattern): "
    "collapse an event stream to each key's most recent row, tie-broken "
    "by the unique event_id. One hash exchange on the key; per-group "
    "TOP-1 via window — the upsert-compaction every CDC mirror runs "
    "before serving.",
)
def dedup_latest_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


@register(
    "agg_corr_regression",
    f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             {DSUM('l_quantity')} AS sx,
             {DSUM('l_extendedprice')} AS sy,
             {DSUM('l_quantity * l_quantity')} AS sxx,
             {DSUM('l_extendedprice * l_extendedprice')} AS syy,
             {DSUM('l_quantity * l_extendedprice')} AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 9) AS pearson_r,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS ols_slope,
           round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
             AS ols_intercept
    FROM m
    """,
    doc="Correlation + simple linear regression per group from five "
    "decimal-fenced moment sums (n, Sx, Sy, Sxx, Syy, Sxy) — one "
    "partial-aggregated shuffle, then closed-form Pearson r / OLS "
    "slope+intercept in IEEE doubles over the (bit-identical) moments. "
    "Built-in corr()/regr_slope() differ numerically across engines; "
    "the moment formulation is engine-exact up to one compiler-level "
    "FMA-contraction ulp in the closed form (observed on the "
    "intercept), which the explicit output rounding absorbs — AND it "
    "is the mergeable shape a 100 TB run needs anyway.",
)
def agg_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel load: five DECIMAL(38,12) moment sums over one parquet
    # row group would otherwise run their partial aggregation in a
    # single task (r12 perf pass)
    li = load_table_parallel(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        trino_round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            9,
        ).alias("pearson_r"),
        trino_round(slope, 9).alias("ols_slope"),
        trino_round((sy - slope * sx) / n, 6).alias("ols_intercept"),
    )


@register(
    "json_extract_rollup",
    """
    WITH j AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM j
    GROUP BY event_type
    """,
    doc="Semi-structured extraction (the events table's JSON props "
    "column): path-extract a field, cast, aggregate — schema-on-read "
    "over string JSON without a UDF. get_json_object stays inside "
    "whole-stage codegen (Jackson per row, no Python); malformed or "
    "missing paths become NULLs that the aggregates skip, mirroring "
    "SQL NULL semantics on both engines.",
)
def json_extract_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.count_distinct(F.col("k")).alias("n_distinct_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "json_variant_histogram",
    """
    WITH j AS (
      SELECT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT CAST(floor(k / 10) AS BIGINT) AS k_decade,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j
    WHERE k IS NOT NULL
    GROUP BY 1
    """,
    doc="Spark 4 VARIANT path: parse_json once into the binary "
    "semi-structured encoding, then try_variant_get typed extraction — "
    "the parse-once/extract-many layout Snowflake/Databricks use for "
    "JSON at scale (repeated get_json_object re-parses the string per "
    "path). Decade-bucketed histogram of the extracted field; the "
    "DuckDB oracle extracts via its JSON path functions — same "
    "values, different encodings.",
)
def json_variant_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.parse_json(F.col("props")).alias("v")
    )
    k = F.try_variant_get("v", "$.k", "long")
    return (
        ev.select("user_id", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy(F.floor(F.col("k") / 10).cast("bigint").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@register(
    "window_rank_trio",
    """
    SELECT l_returnflag,
           l_orderkey,
           l_linenumber,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           round(percent_rank() OVER w, 9) AS prnk
    FROM lineitem
    WHERE l_orderkey <= 1000
    WINDOW w AS (
      PARTITION BY l_returnflag
      ORDER BY l_quantity, l_orderkey, l_linenumber
    )
    """,
    doc="Ranking-function trio (rank / dense_rank / percent_rank) over a "
    "tie-heavy ordering: rank skips after ties, dense_rank doesn't, "
    "percent_rank = (rank-1)/(n-1). The full ORDER BY carries unique "
    "tiebreak columns so every row's rank is engine-deterministic; "
    "percent_rank is rounded on both faces (division of two exact "
    "integers — same IEEE result, rounding is belt-and-braces).",
)
def window_rank_trio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    return li.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        trino_round(F.percent_rank().over(w), 9).alias("prnk"),
    )


@register(
    "set_except_all",
    """
    SELECT o_custkey FROM orders
    EXCEPT ALL
    SELECT c_custkey FROM customer
    """,
    doc="Multiset difference (EXCEPT ALL): order-side customer keys with "
    "their multiplicities minus one occurrence per existing customer — "
    "the bag semantics dedup-aware reconciliation needs (the DISTINCT "
    "set ops are covered by set_except/set_intersect). Plans as a "
    "single hash aggregation of signed counts, one shuffle.",
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    return o.exceptAll(c)


@register(
    "orders_cohort_ltv",
    """
    WITH o AS (
        SELECT o_custkey AS cust,
               year(CAST(o_orderdate AS DATE)) * 12
                   + month(CAST(o_orderdate AS DATE)) - 1 AS mo,
               CAST(o_totalprice AS DECIMAL(38,12)) AS rev
        FROM orders
    ),
    firsts AS (SELECT cust, min(mo) AS cohort_mo FROM o GROUP BY 1),
    cells AS (
        SELECT f.cohort_mo, o.mo - f.cohort_mo AS age,
               sum(o.rev) AS drev,
               count(*) AS n_orders,
               count(DISTINCT o.cust) AS n_customers
        FROM o JOIN firsts f ON o.cust = f.cust
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_mo // 12 AS INTEGER) AS cohort_year,
           CAST(cohort_mo % 12 + 1 AS INTEGER) AS cohort_month,
           CAST(age AS BIGINT) AS age_months,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(n_customers AS BIGINT) AS n_customers,
           round(CAST(drev AS DOUBLE), 6) AS revenue,
           round(CAST(sum(drev) OVER (
               PARTITION BY cohort_mo ORDER BY age
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE), 6) AS cum_ltv
    FROM cells
    ORDER BY cohort_year, cohort_month, age_months
    """,
    doc="Cohort LTV triangle: customers grouped by first-order month, "
    "revenue cells by months-since-first (integer year*12+month "
    "arithmetic — no months_between float semantics to diverge), plus "
    "each cohort's cumulative lifetime value. The running sum windows "
    "over the BOUNDED months x months cell table (not the fact "
    "table), partitioned by cohort; revenue stays DECIMAL through the "
    "cumulative sum, so cells and their prefix sums are exact on both "
    "engines. Complements cohort_retention (activity counts) with the "
    "monetary curve.",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        ).alias("mo"),
        F.col("o_totalprice").cast("decimal(38,12)").alias("rev"),
    )
    firsts = o.groupBy("cust").agg(F.min("mo").alias("cohort_mo"))
    cells = (
        o.join(firsts, "cust")
        .groupBy(
            F.col("cohort_mo"), (F.col("mo") - F.col("cohort_mo")).alias("age")
        )
        .agg(
            F.sum("rev").alias("drev"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("cust").alias("n_customers"),
        )
    )
    w = (
        Window.partitionBy("cohort_mo")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.select(
            F.floor(F.col("cohort_mo") / 12).cast("int").alias("cohort_year"),
            (F.col("cohort_mo") % 12 + 1).cast("int").alias("cohort_month"),
            F.col("age").cast("bigint").alias("age_months"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
            trino_round(F.col("drev").cast("double"), 6).alias("revenue"),
            trino_round(
                F.sum("drev").over(w).cast("double"), 6
            ).alias("cum_ltv"),
        )
        .orderBy("cohort_year", "cohort_month", "age_months")
    )


# --------------------------------------------------------------------------
# Round-16: behavioral entropy + Ljung-Box whiteness test
# --------------------------------------------------------------------------


@register(
    "events_session_entropy",
    """
    WITH uc AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    ut AS (SELECT user_id, sum(c) AS n FROM uc GROUP BY 1),
    contrib AS (
        SELECT uc.user_id, ut.n,
               round(-(CAST(uc.c AS DOUBLE) / ut.n)
                     * ln(CAST(uc.c AS DOUBLE) / ut.n), 8) AS x
        FROM uc JOIN ut USING (user_id)
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(CAST(sum(CAST(x AS DECIMAL(28,8))) AS DOUBLE), 6)
               AS entropy_nats
    FROM contrib GROUP BY user_id
    """,
    doc="Per-user Shannon entropy of the event-type distribution — the "
    "behavioral-diversity feature (bot traffic shows near-zero entropy, "
    "engaged users near-uniform). Two group-keyed shuffles (type counts, "
    "user totals) with map-side combine; per-term contributions round8 "
    "then decimal-fenced, the corpus_kl_to_global determinism recipe.",
)
def events_session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    uc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ut = uc.groupBy("user_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    contrib = uc.join(ut, "user_id").select(
        "user_id", "n", trino_round(-p * F.log(p), 8).alias("x")
    )
    return contrib.groupBy("user_id").agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        trino_round(
            F.sum(F.col("x").cast("decimal(28,8)")).cast("double"), 6
        ).alias("entropy_nats"),
    )


def _ljung_box_sql(max_lag: int = 7) -> str:
    # Recomputes the timeseries_acf CTE chain (kept byte-independent so
    # neither oracle's attestation churns when the other evolves), then
    # folds the round6 autocorrelations into the Ljung-Box Q statistic.
    lags = range(1, max_lag + 1)
    leads = ",\n           ".join(
        f"lead(d.y, {k}) OVER (PARTITION BY d.g ORDER BY d.day) - mu.m AS d{k}"
        for k in lags
    )
    sums = ",\n        ".join(
        f"CAST(sum(CAST(d0 * d{k} AS DECIMAL(38,8))) AS DOUBLE) AS n{k},\n"
        f"        CAST(count(d{k}) AS BIGINT) AS c{k}"
        for k in lags
    )
    terms = " + ".join(
        f"CAST(CASE WHEN c{k} > 0 AND den <> 0 THEN "
        f"round(round(n{k} / den, 6) * round(n{k} / den, 6) / c{k}, 8) "
        f"ELSE 0 END AS DECIMAL(28,8))"
        for k in lags
    )
    return f"""
    WITH d AS (
        SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(38,12))) AS DOUBLE) AS y
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    mu AS (
        SELECT g, round(CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE), 8) AS m
        FROM d GROUP BY 1
    ),
    led AS (
        SELECT d.g, count(*) OVER (PARTITION BY d.g) AS n, (d.y - mu.m) AS d0,
           {leads}
        FROM d JOIN mu ON mu.g = d.g
    ),
    agg AS (
        SELECT g, CAST(max(n) AS BIGINT) AS n,
        CAST(sum(CAST(d0 * d0 AS DECIMAL(38,8))) AS DOUBLE) AS den,
        {sums}
        FROM led GROUP BY 1
    )
    SELECT g AS event_type, n,
           {max_lag} AS lb_df,
           round(n * (n + 2) * CAST(({terms}) AS DOUBLE), 6) AS q_stat,
           (n * (n + 2) * CAST(({terms}) AS DOUBLE) > 14.0671) AS reject_05
    FROM agg
    """


@register(
    "timeseries_ljung_box",
    _ljung_box_sql(),
    doc="Ljung-Box portmanteau whiteness test over each event type's "
    "daily series: Q = n(n+2) * sum_k rho_k^2/(n-k) for lags 1-7 with "
    "the chi-square(7) 5% critical value — the residual-autocorrelation "
    "gate run after fitting Holt/Holt-Winters (Box-Jenkins diagnostics). "
    "Builds on the attested operators/timeseries.py::acf output (round6 "
    "autocorrelations, decimal-fenced cross-product sums); one extra "
    "7-row-per-group collapse on top of the ACF's shuffles.",
)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import acf

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type"),
            F.date_trunc("day", F.col("ts")).cast("date").alias("_day"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(38,12)")).cast("double").alias("_y")
        )
    )
    rho = acf(ev, "event_type", "_day", "_y", max_lag=7)
    term = F.when(
        (F.col("n_pairs") > 0) & F.col("acf_value").isNotNull(),
        trino_round(
            F.col("acf_value") * F.col("acf_value") / F.col("n_pairs"), 8
        ),
    ).otherwise(F.lit(0.0))
    # n recovery: acf always emits a lag=1 row with n_pairs = n-1 (0 for a
    # single-point series), so n_pairs(lag=1)+1 is exact for every length.
    # max(n_pairs + lag) over all lags is WRONG for n < max_lag+1 series:
    # zero-pair lags contribute a bare `lag`, inflating n to max_lag.
    per_group = rho.groupBy("event_type").agg(
        F.max(
            F.when(F.col("lag") == 1, F.col("n_pairs") + F.lit(1))
        )
        .cast("bigint")
        .alias("n"),
        F.sum(term.cast("decimal(28,8)")).cast("double").alias("_s"),
    )
    q = F.col("n") * (F.col("n") + F.lit(2)) * F.col("_s")
    return per_group.select(
        "event_type",
        "n",
        F.lit(7).alias("lb_df"),
        trino_round(q, 6).alias("q_stat"),
        (q > F.lit(14.0671)).alias("reject_05"),
    )
