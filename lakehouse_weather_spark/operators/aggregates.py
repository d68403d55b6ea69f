"""Aggregation queries (SURVEY.md §2.4).

The reference's only aggregation is COUNT(*) per object
(``dags/utils/chunks_data.py:66,98,104``); the rest is the DERIVED
relational closure. Every groupBy below benefits from Spark's partial
(map-side) aggregation: at 100 TB the shuffle carries only per-group
partials, not rows. Double sums/averages go through exact DECIMAL
accumulation (see ``functions.dsum``) so results are identical across
partition orders, cluster sizes, and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_weather_spark.functions import SCALE, davg, dsum, sql_davg, sql_dsum
from lakehouse_weather_spark.registry import register
from lakehouse_weather_spark.sources.tables import load_table


@register(
    "q_count_per_source",
    oracle="SELECT source, count(*) AS cnt FROM documents GROUP BY source",
    doc="Per-group record count (ref: len(docs) per object, "
    "chunks_data.py:66,98 — COUNT(*) per source at scale).",
)
def q_count_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "q_agg_basic",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')}      AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_base_price,
               {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_davg('l_quantity')}      AS avg_qty,
               {sql_davg('l_discount')}      AS avg_disc,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: sum/avg/min/max/count groupBy."
    " Flagship query (entry()). Map-side partials + 6-group shuffle.",
)
def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_discount").alias("avg_disc"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q_agg_distinct",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
               count(*) AS cnt
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="count(DISTINCT …): expands to a two-stage shuffle; at scale"
    " prefer approx_count_distinct (HLL) when exactness isn't required.",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_agg_rollup",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_quantity')} AS sum_qty,
               count(*) AS cnt
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets: subtotals + grand total in one pass"
    " (Spark expands to a single Expand+Aggregate, one shuffle).",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_agg_minmax_by",
    oracle="""
        SELECT o_orderpriority,
               (min(struct_pack(p := o_totalprice,
                    k := o_orderkey))).k AS cheapest_order,
               (max(struct_pack(p := o_totalprice,
                    k := o_orderkey))).k AS priciest_order,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="min_by/max_by (argmin/argmax) per group: which order carries"
    " the extreme value, not just the value. Ties on the value break"
    " deterministically through a (value, key) STRUCT ordering in"
    " BOTH engines — a bare arg_max picks an arbitrary row among"
    " tied extremes and silently diverges between engines (and"
    " between runs at cluster scale).",
)
def q_agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # struct-valued extremes: (value, key) ordering makes the argmin/
    # argmax DETERMINISTIC under value ties (bare min_by/max_by picks
    # an arbitrary tied row — partition-order-dependent at scale)
    return orders.groupBy("o_orderpriority").agg(
        F.min(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias(
            "cheapest_order"
        ),
        F.max(F.struct("o_totalprice", "o_orderkey"))["o_orderkey"].alias(
            "priciest_order"
        ),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "q_agg_cube",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_dsum('l_extendedprice')} AS sum_price,
               count(*) AS cnt
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets: all 4 grouping combinations in one Expand+"
    "Aggregate pass (one shuffle).",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_agg_median",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag, l_quantity,
                   row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        )
        SELECT l_returnflag, l_quantity AS median_qty
        FROM ranked WHERE rn = (n + 1) // 2
    """,
    doc="Exact order-statistic median (lower median, deterministic"
    " tiebreak) — avoids engine-specific interpolation arithmetic while"
    " exercising rank-based quantiles. At scale prefer approx_percentile"
    " (rows-only sibling: see tests).",
)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n + 1) div 2")
    ).select("l_returnflag", F.col("l_quantity").alias("median_qty"))


@register(
    "q_agg_quantiles",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag, l_quantity,
                   row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        )
        SELECT l_returnflag,
               min(CASE WHEN rn = greatest(1, (n * 25) // 100)
                        THEN l_quantity END) AS p25,
               min(CASE WHEN rn = greatest(1, (n * 50) // 100)
                        THEN l_quantity END) AS p50,
               min(CASE WHEN rn = greatest(1, (n * 75) // 100)
                        THEN l_quantity END) AS p75
        FROM ranked
        GROUP BY l_returnflag
    """,
    doc="Exact order-statistic quartiles per group (rank selection, no"
    " interpolation — engine-portable). One window shuffle; at 100 TB"
    " prefer approx_percentile unless exactness is required.",
)
def q_agg_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wc = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_quantity",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    def at(pct: int):
        pos = F.greatest(F.lit(1), F.expr(f"(n * {pct}) div 100"))
        return F.min(F.when(F.col("rn") == pos, F.col("l_quantity")))

    return ranked.groupBy("l_returnflag").agg(
        at(25).alias("p25"), at(50).alias("p50"), at(75).alias("p75")
    )


@register(
    "q_agg_filtered",
    oracle="""
        SELECT l_returnflag,
               (CAST(sum(CASE WHEN l_discount > 0.05
                              THEN CAST(round(l_extendedprice * 10000) AS BIGINT) END)
                     AS DOUBLE) / 10000) AS high_disc_revenue,
               count(*) FILTER (WHERE l_quantity > 30) AS big_qty_cnt,
               count(*) AS cnt
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="Filtered aggregation (FILTER / sum(when(...))) — conditional"
    " partial aggregates, still a single shuffle.",
)
def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    fx_price = F.round(F.col("l_extendedprice") * SCALE, 0).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        (F.sum(F.when(F.col("l_discount") > 0.05, fx_price)).cast("double") / SCALE)
        .alias("high_disc_revenue"),
        F.count(F.when(F.col("l_quantity") > 30, F.lit(1))).alias("big_qty_cnt"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "q_abc_classification",
    oracle="""
        WITH rev AS (
            SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
                   CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS rev_c
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT nationkey, suppkey, rev_c,
                   sum(rev_c) OVER (
                       PARTITION BY nationkey
                       ORDER BY rev_c DESC, suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_c,
                   sum(rev_c) OVER (PARTITION BY nationkey) AS tot_c
            FROM rev
        )
        SELECT nationkey, suppkey, rev_c,
               CAST(cum_c AS DOUBLE) / tot_c AS cum_share,
               CASE WHEN CAST(cum_c AS DOUBLE) / tot_c <= 0.6 THEN 'A'
                    WHEN CAST(cum_c AS DOUBLE) / tot_c <= 0.9 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM ranked
    """,
    doc="ABC / Pareto classification of suppliers by revenue within"
    " each nation: revenue accumulates as exact integer cents, the"
    " running share is one key-partitioned window over a total"
    " (revenue DESC, suppkey) order, and class boundaries are single"
    " IEEE divisions — fully oracle-exact. The 80/20 contribution"
    " analysis every procurement/curation dashboard runs; partitioned"
    " windows keep it shuffle-bounded at any scale.",
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
            )
            .cast("bigint")
            .alias("rev_c")
        )
    )
    running = (
        Window.partitionBy("nationkey")
        .orderBy(F.desc("rev_c"), F.asc("suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = Window.partitionBy("nationkey")
    cum_share = F.sum("rev_c").over(running).cast("double") / F.sum(
        "rev_c"
    ).over(total)
    return rev.select(
        "nationkey",
        "suppkey",
        "rev_c",
        cum_share.alias("cum_share"),
        F.when(cum_share <= 0.6, "A")
        .when(cum_share <= 0.9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "q_decayed_engagement",
    oracle="""
        WITH mx AS (SELECT max(ts) AS now FROM events),
        aged AS (
            SELECT user_id,
                   CAST(round(value * 10000) AS BIGINT) AS value_fx,
                   date_diff('day', date_trunc('day', ts),
                             date_trunc('day', (SELECT now FROM mx)))
                       AS age_days
            FROM events
        )
        SELECT user_id,
               CAST(sum(value_fx // CAST(pow(2, least(age_days, 62))
                                         AS BIGINT)) AS BIGINT)
                   AS score_fx,
               CAST(count(*) AS BIGINT) AS n_events
        FROM aged GROUP BY user_id
    """,
    doc="Half-life-decayed engagement score per user: each event's"
    " fixed-point value halves per day of age (integer division by"
    " 2^age_days — exact, associative, order-independent, no libm"
    " exp() whose rounding differs per engine). The recency-weighted"
    " feature recommender pipelines maintain; one partial-agg groupBy,"
    " and the integer math means incremental daily maintenance is a"
    " shift-and-add over stored partials.",
)
def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now"))
    aged = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr("CAST(round(value * 10000, 0) AS BIGINT)").alias("value_fx"),
        F.expr(
            "datediff(date_trunc('day', now), date_trunc('day', ts))"
        ).alias("age_days"),
    )
    decayed = F.expr(
        "value_fx div CAST(pow(2, least(age_days, 62)) AS BIGINT)"
    )
    return aged.groupBy("user_id").agg(
        F.sum(decayed).cast("bigint").alias("score_fx"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@register(
    "q_user_features",
    oracle="""
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS DOUBLE)
                   / 10000 AS total_value,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(max(epoch_us(ts)) AS BIGINT) AS last_seen_us,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
               CAST(sum(CASE WHEN event_type = 'error'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
        FROM events GROUP BY user_id
    """,
    doc="User feature-store snapshot in ONE scan: activity volume,"
    " fixed-point exact value total, behavioral breadth (distinct"
    " types), recency (last-seen epoch-micros), and conditional"
    " purchase/error counts — the materialized per-entity feature row"
    " online stores serve. Map-side partial aggregation makes the"
    " shuffle one row per user; every value is exact, so the feature"
    " table is reproducible across cluster layouts (the property"
    " training/serving skew audits need).",
)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (
            F.sum(F.expr("CAST(round(value * 10000, 0) AS BIGINT)"))
            .cast("double")
            / 10000
        ).alias("total_value"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.max(F.expr("unix_micros(cast(ts as timestamp))"))
        .cast("bigint")
        .alias("last_seen_us"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )


@register(
    "q_grouping_sets",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS (
            (l_returnflag, l_linestatus), (l_returnflag), ()
        )
    """,
    doc="Explicit GROUPING SETS — the general form ROLLUP/CUBE"
    " specialize: (flag, status) detail, per-flag subtotal, grand"
    " total, in ONE Expand + partial-agg pass (no three-scan union),"
    " with grouping_id disambiguating real NULLs from subtotal rows."
    " Quantities sum as exact integers (l_quantity is integral in"
    " TPC-H), so every cell hash-matches the oracle. Completes the"
    " §2.4 grouping family next to q_agg_rollup/q_agg_cube.",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Rollup re-aggregation consistency audit
# ---------------------------------------------------------------------------


@register(
    "q_rollup_consistency",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, date_trunc('day', ts) AS d,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CAST(round(value * {SCALE}) AS BIGINT))
                        AS BIGINT) AS vfx
            FROM events GROUP BY 1, 2
        ),
        via_daily AS (
            SELECT event_type, date_trunc('month', d) AS m,
                   CAST(sum(cnt) AS BIGINT) AS cnt,
                   CAST(sum(vfx) AS BIGINT) AS vfx
            FROM daily GROUP BY 1, 2
        ),
        direct AS (
            SELECT event_type, date_trunc('month', ts) AS m,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(sum(CAST(round(value * {SCALE}) AS BIGINT))
                        AS BIGINT) AS vfx
            FROM events GROUP BY 1, 2
        )
        SELECT d.event_type, d.m AS month,
               d.cnt AS cnt_direct, v.cnt AS cnt_via_daily,
               CAST(d.vfx AS DOUBLE) / {SCALE} AS sum_direct,
               CAST(v.vfx AS DOUBLE) / {SCALE} AS sum_via_daily,
               d.cnt = v.cnt AND d.vfx = v.vfx AS consistent
        FROM direct d JOIN via_daily v USING (event_type, m)
    """,
    doc="Rollup re-aggregation audit: the monthly summary computed two"
    " ways — directly from raw events, and by re-aggregating the daily"
    " rollup — with a row-level equality verdict. This is the"
    " correctness contract behind every OLAP summary-table hierarchy"
    " (hour->day->month): it holds exactly BECAUSE the engine's sums"
    " are fixed-point integers (algebraic aggregates compose"
    " losslessly; naive double sums would drift between the two"
    " paths). Also the q_time_rollup family's consistency check:"
    " partial aggs compose up the time hierarchy with two tiny"
    " shuffles, never rescanning raw data at the coarser grain in"
    " production.",
)
def q_rollup_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vfx = F.round(F.col("value") * SCALE, 0).cast("bigint")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(vfx).cast("bigint").alias("vfx"),
    )
    via_daily = daily.groupBy(
        "event_type", F.date_trunc("month", "d").alias("month")
    ).agg(
        F.sum("cnt").cast("bigint").alias("cnt_v"),
        F.sum("vfx").cast("bigint").alias("vfx_v"),
    )
    direct = ev.groupBy(
        "event_type", F.date_trunc("month", "ts").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_d"),
        F.sum(vfx).cast("bigint").alias("vfx_d"),
    )
    return direct.join(via_daily, ["event_type", "month"]).select(
        "event_type",
        "month",
        F.col("cnt_d").alias("cnt_direct"),
        F.col("cnt_v").alias("cnt_via_daily"),
        (F.col("vfx_d").cast("double") / SCALE).alias("sum_direct"),
        (F.col("vfx_v").cast("double") / SCALE).alias("sum_via_daily"),
        (
            (F.col("cnt_d") == F.col("cnt_v"))
            & (F.col("vfx_d") == F.col("vfx_v"))
        ).alias("consistent"),
    )


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift (market-basket over users)
# ---------------------------------------------------------------------------


@register(
    "q_type_cooccurrence",
    oracle="""
        WITH ut AS (
            SELECT DISTINCT user_id, event_type FROM events
        ),
        n_users AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
        ),
        tc AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS c
            FROM ut GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_both
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, p.n_both,
               ca.c AS n_a, cb.c AS n_b,
               CAST(p.n_both * u.n AS DOUBLE) / (ca.c * cb.c) AS lift
        FROM pairs p
        JOIN tc ca ON ca.event_type = p.type_a
        JOIN tc cb ON cb.event_type = p.type_b
        CROSS JOIN n_users u
    """,
    doc="Event-type co-occurrence lift over users (market-basket):"
    " for each type pair, how many users did both, and the lift"
    " P(both) / (P(a) * P(b)) as the exact rational n_both * n_users"
    " / (n_a * n_b) — lift > 1 flags behaviorally-linked actions"
    " (views that lead to purchases), < 1 flags segmenting ones."
    " The self-join runs on the DISTINCT (user, type) set — at most"
    " |types| rows per user, so the wedge fan-out is bounded by"
    " |types|^2 regardless of event volume; counts broadcast back."
    " Output is |types| choose 2 rows at any scale.",
)
def q_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("n")
    )
    tc = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ca = tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("n_a"))
    cb = tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                (F.col("n_both") * F.col("n")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
    )


# --- RFM customer segmentation ---------------------------------------


_RFM_ORACLE = """
        WITH mx AS (SELECT max(o_orderdate) AS maxd FROM orders),
        per_cust AS (
            SELECT o_custkey AS c_custkey,
                   CAST(date_diff('day', max(o_orderdate),
                                  (SELECT maxd FROM mx)) AS BIGINT)
                       AS r_days,
                   CAST(count(*) AS BIGINT) AS f_orders,
                   CAST(sum(CAST(round(o_totalprice * 10000) AS BIGINT))
                        AS BIGINT) AS m_fx
            FROM orders GROUP BY o_custkey
        ),
        scored AS (
            SELECT c_custkey, r_days, f_orders, m_fx,
                   6 - ntile(5) OVER (ORDER BY r_days ASC, c_custkey)
                       AS r_score,
                   ntile(5) OVER (ORDER BY f_orders ASC, c_custkey)
                       AS f_score,
                   ntile(5) OVER (ORDER BY m_fx ASC, c_custkey)
                       AS m_score
            FROM per_cust
        )
        SELECT c_custkey, r_days, f_orders, m_fx,
               CAST(r_score AS BIGINT) AS r_score,
               CAST(f_score AS BIGINT) AS f_score,
               CAST(m_score AS BIGINT) AS m_score,
               CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                   || CAST(m_score AS VARCHAR) AS rfm_segment
        FROM scored
    """


def _rfm_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(c_custkey, r_days, f_orders, m_fx) — the RFM base aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("maxd"))
    return (
        orders.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(F.first("maxd"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("r_days"),
            F.count(F.lit(1)).cast("bigint").alias("f_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 10_000, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("m_fx"),
        )
    )


def _rfm_select(scored: DataFrame) -> DataFrame:
    return scored.select(
        "c_custkey",
        "r_days",
        "f_orders",
        "m_fx",
        F.col("r_score").cast("bigint").alias("r_score"),
        F.col("f_score").cast("bigint").alias("f_score"),
        F.col("m_score").cast("bigint").alias("m_score"),
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_segment"),
    )


@register(
    "q_rfm",
    oracle=_RFM_ORACLE,
    doc="RFM customer segmentation: recency (days since last order,"
    " relative to the corpus max date), frequency (order count), and"
    " monetary (fixed-point lifetime total), each scored into"
    " quintiles with a custkey tie-break (recency inverted so 5 ="
    " most recent — the marketing convention), then concatenated into"
    " the classic 3-digit segment code. SCALE-SAFE DEFAULT: each"
    " metric's quintile comes from a distributed global rank (the"
    " q_global_ordinal decomposition — coarse value buckets, bounded"
    " cumulative-offset window, per-bucket row_number) plus exact"
    " integer ntile arithmetic bucket(r) over (rank, n), so NO window"
    " ever sees the whole customer table in one partition (the"
    " q_rfm_naive twin keeps the three global ntile() windows the"
    " way q_join_range keeps its BNLJ twin). The oracle is the naive"
    " ntile form, so the gate proves the decomposition bit-identical.",
)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per_cust = _rfm_per_cust(spark, sf_dir)
    n_tot = per_cust.agg(F.count(F.lit(1)).cast("bigint").alias("n_tot"))

    def global_rank(value: str, bucket, out: str) -> DataFrame:
        """Distributed rank over the unique total order (value,
        c_custkey): per-bucket counts -> cumulative offsets over the
        BOUNDED bucket list -> offset + row_number within bucket.
        Buckets follow the value order, so ranks are globally exact."""
        base = per_cust.select("c_custkey", value).withColumn("bkt", bucket)
        counts = base.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
        w_off = Window.orderBy("bkt").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offsets = counts.select(
            "bkt", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
        )
        w_in = Window.partitionBy("bkt").orderBy(value, "c_custkey")
        return base.join(F.broadcast(offsets), "bkt").select(
            "c_custkey",
            (F.col("off") + F.row_number().over(w_in))
            .cast("bigint")
            .alias(out),
        )

    # bucket keys: r_days/f_orders are their own (value-range-bounded)
    # buckets; m_fx coarsens to ~1e4-money-unit buckets — bucket count
    # is bounded by the VALUE RANGE, never by customer count
    rk_r = global_rank("r_days", F.col("r_days"), "rk_r")
    rk_f = global_rank("f_orders", F.col("f_orders"), "rk_f")
    rk_m = global_rank("m_fx", F.expr("m_fx div 100000000"), "rk_m")

    def ntile5(rank: str) -> F.Column:
        # exact ntile(5) arithmetic over (rank, n): the first n%5
        # buckets absorb the remainder (size q+1), the rest get q —
        # identical to the SQL ntile both engines implement
        q, m = "(n_tot div 5)", "(n_tot % 5)"
        return F.expr(
            f"CASE WHEN {rank} <= {m} * ({q} + 1)"
            f" THEN ({rank} + {q}) div ({q} + 1)"
            f" ELSE {m} + ({rank} - {m} * ({q} + 1) + {q} - 1) div {q}"
            f" END"
        )

    scored = (
        per_cust.join(rk_r, "c_custkey")
        .join(rk_f, "c_custkey")
        .join(rk_m, "c_custkey")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "c_custkey",
            "r_days",
            "f_orders",
            "m_fx",
            (F.lit(6) - ntile5("rk_r")).alias("r_score"),
            ntile5("rk_f").alias("f_score"),
            ntile5("rk_m").alias("m_score"),
        )
    )
    return _rfm_select(scored)


@register(
    "q_rfm_naive",
    oracle=_RFM_ORACLE,
    doc="q_rfm's single-window twin: the three quintiles come straight"
    " from global ntile(5) windows — the idiomatic one-liner, kept"
    " (like q_join_range_naive) as the readable reference form and"
    " the fixture-scale shortcut. The windows have NO partition key,"
    " so the whole per-customer table funnels through ONE task: fine"
    " at dimension-table cardinality, the documented anti-pattern at"
    " 100 TB — use q_rfm (distributed-rank + exact integer ntile"
    " arithmetic, bit-identical output) there.",
)
def q_rfm_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    per_cust = _rfm_per_cust(spark, sf_dir)
    scored = per_cust.select(
        "c_custkey",
        "r_days",
        "f_orders",
        "m_fx",
        (6 - F.ntile(5).over(Window.orderBy("r_days", "c_custkey"))).alias(
            "r_score"
        ),
        F.ntile(5)
        .over(Window.orderBy("f_orders", "c_custkey"))
        .alias("f_score"),
        F.ntile(5).over(Window.orderBy("m_fx", "c_custkey")).alias("m_score"),
    )
    return _rfm_select(scored)


# --- Wilson confidence bounds ----------------------------------------

# z for a 95% interval, baked as a literal so no inverse-normal runs
# inside either engine.
_WILSON_Z = 1.959963984540054


@register(
    "q_wilson_bounds",
    oracle=f"""
        WITH pu AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        g AS (
            SELECT user_id, n, x,
                   CAST(x AS DOUBLE) / n AS p,
                   (CAST({_WILSON_Z} AS DOUBLE)
                        * CAST({_WILSON_Z} AS DOUBLE)) / n AS z2n
            FROM pu
        ),
        g2 AS (
            SELECT user_id, n, x, p, z2n,
                   p * (1 - p) AS pq,
                   z2n / 4 AS z4,
                   z2n / 2 AS zh
            FROM g
        ),
        g3 AS (
            SELECT user_id, n, x, p, z2n, zh,
                   (pq + z4) / n AS rad
            FROM g2
        ),
        g4 AS (
            SELECT user_id, n, x, p, z2n, zh,
                   CAST({_WILSON_Z} AS DOUBLE) * sqrt(rad) AS marg
            FROM g3
        )
        SELECT user_id, n, x, p,
               (p + zh - marg) / (1 + z2n) AS wilson_low,
               (p + zh + marg) / (1 + z2n) AS wilson_high
        FROM g4
    """,
    doc="Wilson-score 95% confidence bounds on each user's purchase"
    " rate: the ranking-by-lower-bound primitive (the 'sort by best'"
    " algorithm) that fixes the small-sample lie in raw proportions —"
    " a user at 1/1 ranks BELOW a user at 80/100 because its lower"
    " bound collapses. The z quantile is a BAKED literal (no inverse"
    " normal runs in either engine); counts are exact integers and"
    " the interval is mirrored IEEE arithmetic ending in one sqrt, so"
    " every bound hash-matches DuckDB. ONE conditional-aggregation"
    " scan on the user shard key.",
)
def q_wilson_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    # every float op lands in its OWN projected column, in both
    # engines: a compound a*b+c expression leaves the evaluation shape
    # to the engine (constant folding / contraction), which costs the
    # last ULP of parity — staging pins the op order exactly
    g = pu.select(
        "user_id",
        "n",
        "x",
        F.expr("cast(x as double) / n").alias("p"),
        F.expr(
            f"(cast({_WILSON_Z} as double) * cast({_WILSON_Z} as double))"
            " / n"
        ).alias("z2n"),
    )
    g2 = g.select(
        "*",
        F.expr("p * (1 - p)").alias("pq"),
        F.expr("z2n / 4").alias("z4"),
        F.expr("z2n / 2").alias("zh"),
    )
    g3 = g2.select("*", F.expr("(pq + z4) / n").alias("rad"))
    g4 = g3.select(
        "*",
        F.expr(f"cast({_WILSON_Z} as double) * sqrt(rad)").alias("marg"),
    )
    return g4.select(
        "user_id",
        "n",
        "x",
        "p",
        F.expr("(p + zh - marg) / (1 + z2n)").alias("wilson_low"),
        F.expr("(p + zh + marg) / (1 + z2n)").alias("wilson_high"),
    )


# --- empirical-Bayes shrinkage ---------------------------------------

# Prior strength (pseudo-count mass) for the shrinkage estimator.
_EB_M = 20


@register(
    "q_eb_shrinkage",
    oracle=f"""
        WITH pu AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS x
            FROM events GROUP BY user_id
        ),
        prior AS (
            SELECT CAST(sum(x) AS BIGINT) AS tx,
                   CAST(sum(n) AS BIGINT) AS tn
            FROM pu
        )
        SELECT pu.user_id, pu.n, pu.x,
               CAST(pu.x AS DOUBLE) / pu.n AS raw_rate,
               (CAST(pu.x AS DOUBLE) + {_EB_M}
                    * (CAST(p.tx AS DOUBLE) / p.tn))
                   / (pu.n + {_EB_M}) AS shrunk_rate
        FROM pu CROSS JOIN prior p
    """,
    doc=f"Empirical-Bayes shrinkage of per-user purchase rates toward"
    f" the corpus rate with prior strength m={_EB_M} pseudo-counts:"
    " shrunk = (x + m*p0) / (n + m) — the hierarchical estimator"
    " that stabilizes sparse per-entity rates (the quality-score,"
    " CTR, and per-source-statistic smoothing every ranking pipeline"
    " applies before comparing entities with wildly different"
    " volumes). Low-volume users pull strongly to the prior;"
    " high-volume users keep their own rate. The prior is a 2-number"
    " broadcast from exact integer totals; the estimate is mirrored"
    " IEEE arithmetic, hash-exact vs DuckDB.",
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    prior = pu.agg(
        F.sum("x").cast("bigint").alias("tx"),
        F.sum("n").cast("bigint").alias("tn"),
    )
    return pu.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "n",
        "x",
        F.expr("cast(x as double) / n").alias("raw_rate"),
        F.expr(
            f"(cast(x as double) + {_EB_M} * (cast(tx as double) / tn))"
            f" / (n + {_EB_M})"
        ).alias("shrunk_rate"),
    )


@register(
    "q_weighted_median",
    oracle="""
        WITH wr AS (
            SELECT l_returnflag, l_quantity,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS w,
                   row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn
            FROM lineitem
        ),
        cum AS (
            SELECT l_returnflag, l_quantity, rn,
                   sum(w) OVER (PARTITION BY l_returnflag ORDER BY rn
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cw,
                   sum(w) OVER (PARTITION BY l_returnflag) AS wtot
            FROM wr
        ),
        hit AS (
            SELECT l_returnflag, l_quantity, cw, wtot,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY rn) AS pick
            FROM cum WHERE cw * 2 >= wtot
        )
        SELECT l_returnflag,
               l_quantity AS wmedian_qty,
               CAST(cw AS BIGINT) AS cum_weight_cents,
               CAST(wtot AS BIGINT) AS total_weight_cents
        FROM hit WHERE pick = 1
    """,
    doc="Exact VALUE-weighted median per group (weight ="
    " extended price in integer cents): the robust center that answers"
    " 'the quantity at which half the revenue sits below' — the"
    " aggregation BI uses when rows have wildly unequal economic"
    " weight. The defining inequality runs as cum_weight * 2 >="
    " total_weight on exact int64 cents — no division, no float"
    " boundary to flip a row. Same per-group sort-window shape as"
    " q_agg_median (lower weighted median, deterministic tiebreak);"
    " at scale the cumulative pass is the one sort per group the"
    " exact statistic fundamentally needs.",
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wr = li.select(
        "l_returnflag",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("w"),
        F.row_number().over(w).alias("rn"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = wr.select(
        "l_returnflag",
        "l_quantity",
        "rn",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wtot).alias("wtot"),
    )
    hit = cum.filter(F.col("cw") * 2 >= F.col("wtot")).withColumn(
        "pick",
        F.row_number().over(
            Window.partitionBy("l_returnflag").orderBy("rn")
        ),
    )
    return hit.filter(F.col("pick") == 1).select(
        "l_returnflag",
        F.col("l_quantity").alias("wmedian_qty"),
        F.col("cw").cast("bigint").alias("cum_weight_cents"),
        F.col("wtot").cast("bigint").alias("total_weight_cents"),
    )


# --- user journey paths ----------------------------------------------

_JP_STEPS = 8  # path prefix length (bounds the path string at scale)
_JP_TOPK = 20


@register(
    "q_journey_paths",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY rn) AS path,
                   count(*) AS path_len
            FROM seq WHERE rn <= {_JP_STEPS}
            GROUP BY user_id
        )
        SELECT path, CAST(max(path_len) AS BIGINT) AS path_len,
               CAST(count(*) AS BIGINT) AS n_users
        FROM paths
        GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT {_JP_TOPK}
    """,
    doc=f"Top user-journey paths: each user's first {_JP_STEPS} events"
    " (deterministic ts + event_id order) concatenate into a"
    " '>'-joined path signature, identical journeys count together,"
    f" and the {_JP_TOPK} most common surface — the product-analytics"
    " primitive behind sankey/flow dashboards and funnel hypothesis"
    " mining. The per-user window partitions by user (parallel), the"
    f" {_JP_STEPS}-step cap bounds the path string at any scale, and"
    " the final ordering is a TakeOrdered heap over the path"
    " vocabulary, never a global sort of users. Spark builds the"
    " ordered path by sorting a collected (rn, type) struct array"
    " per user — array_sort on structs is deterministic, no"
    " collect_list-order reliance.",
)
def q_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _JP_STEPS)
    paths = seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).alias("path_len"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.max("path_len").cast("bigint").alias("path_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(_JP_TOPK)
    )


# --- exact mode per group --------------------------------------------


@register(
    "q_agg_mode",
    oracle="""
        WITH c AS (
            SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
            FROM orders GROUP BY 1, 2
        ),
        r AS (
            SELECT o_orderpriority, o_orderstatus, cnt,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY cnt DESC, o_orderstatus) AS rn
            FROM c
        )
        SELECT o_orderpriority,
               o_orderstatus AS mode_status,
               CAST(cnt AS BIGINT) AS mode_count
        FROM r WHERE rn = 1
    """,
    doc="Exact MODE per group (most frequent order status per"
    " priority) with a deterministic value tiebreak: two stacked"
    " partial aggregations — (group, value) counts, then an argmax"
    " window over the tiny distinct-combination table. Engines' bare"
    " mode() functions pick an arbitrary tied value (Spark has none"
    " at all pre-3.4; DuckDB's breaks ties by first-seen order), so"
    " the portable form is count + (cnt DESC, value) rank — the same"
    " determinism discipline as q_agg_minmax_by. Both shuffles carry"
    " only distinct combinations: cardinality-bounded however large"
    " the fact table.",
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cnt"), F.asc("o_orderstatus")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("mode_status"),
            F.col("cnt").cast("bigint").alias("mode_count"),
        )
    )


@register(
    "q_weighted_quantiles",
    oracle="""
        WITH wr AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(l_quantity AS BIGINT) AS wq,
                   row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY round(l_extendedprice * 100),
                                l_orderkey, l_linenumber) AS rn
            FROM lineitem
        ),
        cum AS (
            SELECT l_returnflag, price_c, rn,
                   sum(wq) OVER (PARTITION BY l_returnflag ORDER BY rn
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cw,
                   sum(wq) OVER (PARTITION BY l_returnflag) AS wtot
            FROM wr
        ),
        t AS (
            SELECT l_returnflag,
                   min(CASE WHEN cw * 4 >= 1 * wtot THEN rn END) AS r25,
                   min(CASE WHEN cw * 4 >= 2 * wtot THEN rn END) AS r50,
                   min(CASE WHEN cw * 4 >= 3 * wtot THEN rn END) AS r75,
                   CAST(max(wtot) AS BIGINT) AS total_weight
            FROM cum GROUP BY l_returnflag
        )
        SELECT c.l_returnflag,
               CAST(max(CASE WHEN c.rn = t.r25 THEN c.price_c END)
                    AS BIGINT) AS p25_price_c,
               CAST(max(CASE WHEN c.rn = t.r50 THEN c.price_c END)
                    AS BIGINT) AS p50_price_c,
               CAST(max(CASE WHEN c.rn = t.r75 THEN c.price_c END)
                    AS BIGINT) AS p75_price_c,
               t.total_weight
        FROM cum c JOIN t ON t.l_returnflag = c.l_returnflag
        GROUP BY c.l_returnflag, t.total_weight
    """,
    doc="Exact WEIGHTED QUANTILES (p25/p50/p75) of unit price per"
    " return flag, weighted by quantity — 'the price below which a"
    " quarter/half/three-quarters of UNITS sold sit', the"
    " unequal-weight generalization of q_agg_median and the multi-p"
    " extension of q_weighted_median. Defining inequality cw * 4 >="
    " p4 * wtot entirely in exact int64 (quantity is integral; price"
    " ordered as integer cents) — no division, no float boundary."
    " The three target ranks come from ONE conditional-min aggregate"
    " over the cumulative pass (no per-p rescans), then one join"
    " fetches the three order statistics. Per-group sort window +"
    " two partial aggs; at scale this is the one sort per group the"
    " exact statistic needs — the approximate arm is"
    " q_quantile_sketch.",
)
def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.expr("round(l_extendedprice * 100)"),
        "l_orderkey",
        "l_linenumber",
    )
    wr = li.select(
        "l_returnflag",
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias(
            "price_c"
        ),
        F.col("l_quantity").cast("bigint").alias("wq"),
        F.row_number().over(w).alias("rn"),
    )
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("l_returnflag")
    cum = wr.select(
        "l_returnflag",
        "price_c",
        "rn",
        F.sum("wq").over(wcum).alias("cw"),
        F.sum("wq").over(wtot).alias("wtot"),
    )
    # r11 (guide §2.4): the oracle's two-step — min-rank aggregate,
    # then a join back to fetch the price at that rank — consumed the
    # sort+window chain TWICE (r10 measured both a localCheckpoint of
    # `cum` and a full-frame window-min rewrite as worse). One
    # struct-min per quantile collapses it to a single pass: rn is
    # row_number (unique per group), so min(struct(rn, price_c)) picks
    # exactly the min-rn row satisfying the SAME integer inequality the
    # oracle uses, and .price_c is the price the oracle's join would
    # fetch — bit-identical, join and second window pass gone.
    def _q(p: int):
        return F.min(
            F.expr(
                f"CASE WHEN cw * 4 >= {p} * wtot"
                " THEN struct(rn, price_c) END"
            )
        )["price_c"].cast("bigint")

    # the oracle's equi-join back drops NULL-flag rows; keep parity
    return cum.where(F.col("l_returnflag").isNotNull()).groupBy(
        "l_returnflag"
    ).agg(
        _q(1).alias("p25_price_c"),
        _q(2).alias("p50_price_c"),
        _q(3).alias("p75_price_c"),
        F.max("wtot").cast("bigint").alias("total_weight"),
    )


@register(
    "q_trimmed_mean",
    oracle="""
        WITH ranked AS (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS q,
                   row_number() OVER (PARTITION BY l_returnflag
                       ORDER BY l_quantity, l_orderkey, l_linenumber)
                       AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ),
        kept AS (
            SELECT * FROM ranked
            WHERE rn > n // 10 AND rn <= n - (n // 10)
        )
        SELECT l_returnflag,
               CAST(max(n) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(min(q) AS BIGINT) AS kept_min_qty,
               CAST(max(q) AS BIGINT) AS kept_max_qty,
               CAST(CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    AS DOUBLE) AS trimmed_mean_qty
        FROM kept GROUP BY l_returnflag
    """,
    doc="Exact 10% TRIMMED MEAN of quantity per return flag — the"
    " outlier-robust location estimate between mean (fragile) and"
    " median (throws away 98% of the data): rank rows per group with"
    " the deterministic order-statistic tiebreak (q_agg_median"
    " idiom), drop the bottom and top n div 10 ranks EXACTLY (floor"
    " — no interpolated partial weights, so the kept set is a"
    " bit-certain row set on both engines), integer-sum the kept"
    " values and divide once. Emits the kept range as evidence of"
    " what the trim cut. Same per-group sort-window shape as the"
    " median family; one extra partial agg.",
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_quantity", "l_orderkey", "l_linenumber"
    )
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("q"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = ranked.filter(
        F.expr("rn > n div 10 AND rn <= n - (n div 10)")
    )
    return kept.groupBy("l_returnflag").agg(
        F.max("n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.min("q").cast("bigint").alias("kept_min_qty"),
        F.max("q").cast("bigint").alias("kept_max_qty"),
        (
            F.sum("q").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("trimmed_mean_qty"),
    )


# ---------------------------------------------------------------------------
# round 10: fulfillment latency + demand curve
# ---------------------------------------------------------------------------


@register(
    "q_ship_latency",
    oracle="""
        WITH lat AS (
            SELECT o.o_orderpriority,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS days
            FROM lineitem l JOIN orders o
              ON l.l_orderkey = o.o_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(days) AS BIGINT) AS n_shipped,
               CAST(min(days) AS BIGINT) AS min_days,
               CAST(max(days) AS BIGINT) AS max_days,
               CAST(sum(days) AS DOUBLE) / count(days) AS avg_days,
               CAST(median(days) AS DOUBLE) AS median_days
        FROM lat
        WHERE days IS NOT NULL
        GROUP BY o_orderpriority
    """,
    doc="Order-to-ship latency distribution per order priority: the"
    " fulfillment SLA table (does 1-URGENT actually ship faster?)."
    " One lineitem-orders equi-join on the canonical co-partition"
    " key — at 100 TB this is the join the bucketed-fact layout"
    " (operators/tpch.ensure_bucketed_facts) makes shuffle-free —"
    " then a per-priority aggregate over integer day deltas: exact"
    " min/max/avg, and an exact median (both engines average the two"
    " middle integers, so .0/.5 halves compare bit-equal). Rows with"
    " a NULL date drop from every aggregate identically on both"
    " engines (count(days), not count(*)).",
)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        ).cast("bigint").alias("days"),
    )
    return (
        lat.filter(F.col("days").isNotNull())
        .groupBy("o_orderpriority")
        .agg(
            F.count("days").cast("bigint").alias("n_shipped"),
            F.min("days").cast("bigint").alias("min_days"),
            F.max("days").cast("bigint").alias("max_days"),
            (F.sum("days").cast("double") / F.count("days"))
            .alias("avg_days"),
            F.median("days").cast("double").alias("median_days"),
        )
    )


@register(
    "q_price_quantity_curve",
    oracle="""
        WITH px AS (
            SELECT p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS p_fx
            FROM part WHERE p_retailprice IS NOT NULL
        ),
        bounds AS (
            SELECT min(p_fx) AS lo, max(p_fx) AS hi FROM px
        ),
        bucketed AS (
            SELECT p.p_partkey,
                   p.p_fx,
                   least(9, ((p.p_fx - b.lo) * 10)
                             // (b.hi - b.lo + 1)) AS bucket
            FROM px p CROSS JOIN bounds b
        )
        SELECT CAST(k.bucket AS BIGINT) AS bucket,
               CAST(min(k.p_fx) AS DOUBLE) / 100 AS min_price,
               CAST(max(k.p_fx) AS DOUBLE) / 100 AS max_price,
               CAST(count(l.l_quantity) AS BIGINT) AS n_lineitems,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)
                   / count(l.l_quantity) AS avg_quantity
        FROM bucketed k JOIN lineitem l
          ON l.l_partkey = k.p_partkey
        WHERE l.l_quantity IS NOT NULL
        GROUP BY k.bucket
    """,
    doc="Demand curve over ten equal-WIDTH price bands: per part-price"
    " bucket, the average ordered quantity — the cheap observable"
    " behind price-elasticity dashboards (a log-log regression would"
    " hit libm ln() cross-engine drift; equal-width integer bands"
    " keep every boundary exact). Bucket edges derive from one 1-row"
    " min/max aggregate broadcast back over parts (the sanctioned"
    " 1-row crossJoin shape), bucket index is pure int64 arithmetic"
    " (floor division of positive ints matches DuckDB //), and the"
    " part->lineitem equi-join shuffles on partkey. No window, no"
    " collect; NULL prices/quantities drop via mirrored predicates.",
)
def q_price_quantity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_retailprice").isNotNull()
    ).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0)
        .cast("bigint").alias("p_fx"),
    )
    bounds = part.agg(
        F.min("p_fx").alias("lo"), F.max("p_fx").alias("hi")
    )
    bucketed = part.crossJoin(F.broadcast(bounds)).select(
        "p_partkey",
        "p_fx",
        F.least(
            F.lit(9),
            F.expr("div((p_fx - lo) * 10, hi - lo + 1)"),
        ).alias("bucket"),
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
    ).select("l_partkey", "l_quantity")
    return (
        li.join(bucketed, li["l_partkey"] == bucketed["p_partkey"])
        .groupBy("bucket")
        .agg(
            (F.min("p_fx").cast("double") / 100).alias("min_price"),
            (F.max("p_fx").cast("double") / 100).alias("max_price"),
            F.count("l_quantity").cast("bigint").alias("n_lineitems"),
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
            ).alias("avg_quantity"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "min_price",
            "max_price",
            "n_lineitems",
            "avg_quantity",
        )
    )
