"""Second-wave oracle queries, relational/window tier: sessionization, cumulative windows,
exact percentiles, statistical aggregates, vector centroids, token
frequency, and additional TPC-H shapes (Q6/Q10/Q14/Q18/Q19 adapted to
the synthetic schema). Extends coverage of SURVEY §2.3–2.8 plus the
streaming-adjacent session-window operator the reference lacks.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.scalars import (
    decimal_to_double_split,
    decimal_to_double_split_sql,
    grid_long,
    grid_sum_parts,
    grid_sum_value,
    money2,
    money_round,
    one_minus_rate,
    stable_round,
    stable_round_sql,
)
from ..operators.stats import corr_moments_sql, corr_value_sql
from ..sources.tables import load_table, load_tables
from .registry import register


@register(
    "q06_forecast_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: pure filter + agg — every predicate pushes into the "
    "parquet scan (min/max pruning), zero shuffle beyond the final fold. "
    "Money accumulates as the split-LONG grid (grid_sum_parts, scale 4: "
    "cents x discount-hundredths) — measured 1.25x vs the DECIMAL sum "
    "on this join-free shape at sf1 (GRID_SUM_FULLSCAN discipline, "
    "round 13); the oracle keeps the exact DECIMAL form, identical by "
    "construction.",
)
def q06_forecast_revenue(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    u4 = grid_long("l_extendedprice") * grid_long("l_discount")
    return (
        t.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            *grid_sum_parts(u4, "rev", 4),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            money_round(grid_sum_value("rev", 4)).alias("revenue"),
            "n_items",
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10: returned-item revenue per customer, top 20.",
)
def q10_returned_items(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t.orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = t.lineitem.where(F.col("l_returnflag") == "R")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(money_round(F.sum(money2("l_extendedprice") * one_minus_rate("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_revenue",
    """
    SELECT CAST(round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                       * (CAST(1 AS DECIMAL(3,2))
                                          - CAST(l.l_discount AS DECIMAL(4,2)))
                                  ELSE 0 END), 2) AS DOUBLE) AS promo_revenue,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS total_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    doc="TPC-H Q14: conditional-sum promo share; part is broadcast.",
)
def q14_promo_revenue(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l = t.lineitem.where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    disc = money2("l_extendedprice") * one_minus_rate("l_discount")
    zero = F.lit("0").cast("decimal(5,4)")
    return (
        l.join(F.broadcast(t.part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            money_round(
                F.lit(100) * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero))
            ).alias("promo_revenue"),
            money_round(F.sum(disc)).alias("total_revenue"),
        )
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           round(o.o_totalprice, 2) AS totalprice,
           round(t.sum_qty, 2) AS sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    ) t ON t.l_orderkey = o.o_orderkey
    ORDER BY totalprice DESC, o_orderkey
    """,
    doc="TPC-H Q18: large-volume orders via HAVING-filtered subquery join.",
)
def q18_large_volume_customers(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    big = (
        t.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        t.orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t.customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
    )


@register(
    "q19_disjunctive_predicates",
    """
    SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19: OR-of-ANDs join predicates (optimizer CNF extraction).",
)
def q19_disjunctive_predicates(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    j = t.lineitem.join(F.broadcast(t.part), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40))
    )
    return j.where(cond).agg(
        money_round(F.sum(money2("l_extendedprice") * one_minus_rate("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q_sessionize",
    """
    WITH x AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, event_id, ts_us,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM x
    )
    SELECT user_id, session_idx::BIGINT AS session_idx, count(*) AS n_events,
           floor((max(ts_us) - min(ts_us)) / 1000000.0 * 100 + 0.5) / 100 AS duration_sec
    FROM s GROUP BY user_id, session_idx
    """,
    doc="Sessionization (gap > 30 min ⇒ new session): lag → new-session "
    "flag → running sum → per-session rollup. The batch equivalent of "
    "Structured Streaming's session_window; one shuffle on user_id.",
)
def q_sessionize(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    prev = F.lag(ts_us).over(w)
    is_new = F.when(prev.isNull() | (ts_us - prev > 1800 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = (
        e.withColumn("ts_us", ts_us)
        .withColumn("is_new", is_new)
        .withColumn("session_idx", F.sum("is_new").over(run))
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        stable_round((F.max("ts_us") - F.min("ts_us")) / 1e6, 2).alias("duration_sec"),
    )


@register(
    "q_cumulative_spend",
    """
    SELECT o_custkey, o_orderkey,
           floor(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) * 100 + 0.5) / 100
               AS cum_spend,
           row_number() OVER w AS order_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING)
    """,
    doc="Running cumulative sum per customer — windowed split-LONG grid "
    "sum (two LONG running sums recombined per row in exact decimal; "
    "measured 1.4x vs the DECIMAL(28,2)-buffer window sum at sf1, "
    "bit-identical), engine-portable rounding. The oracle keeps the "
    "exact DECIMAL windowed-sum form.",
)
def q_cumulative_spend(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = grid_long("o_totalprice")
    lo = F.pmod(u, F.lit(100))
    hi = ((u - lo) / F.lit(100)).cast("long")
    cum = grid_sum_value("cum", 2).cast("double")
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(hi).over(w).alias("__cum_hi"),
        F.sum(lo).over(w).alias("__cum_lo"),
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("order_rank"),
    ).select(
        "o_custkey",
        "o_orderkey",
        stable_round(cum, 2).alias("cum_spend"),
        "order_rank",
    )


@register(
    "q_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Exact continuous percentiles per key (linear interpolation — the "
    "approx_percentile scale path is the same plan with a sketch agg).",
)
def q_percentiles(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "q_stats_agg",
    """
    WITH q AS (
        SELECT event_type, value,
               CAST(floor(value * 1000000.0 + 0.5) / 1000000.0
                    AS DECIMAL(18,6)) AS vq,
               CAST(user_id AS DECIMAL(18,6)) AS uq
        FROM events
    ), m AS (
        SELECT event_type,
               floor(stddev_samp(value) * 10000 + 0.5) / 10000 AS sd,
               floor(var_samp(value) * 10000 + 0.5) / 10000 AS var,
               floor(min(value) * 10000 + 0.5) / 10000 AS vmin,
               floor(max(value) * 10000 + 0.5) / 10000 AS vmax,
               """
    + corr_moments_sql("vq", "uq", "cu", "DECIMAL(38,6)", 6)
    + f"""
        FROM q GROUP BY event_type
    )
    SELECT event_type, sd, var,
           {stable_round_sql(corr_value_sql('cu'), 4)} AS corr_uid,
           vmin, vmax
    FROM m ORDER BY event_type
    """,
    doc="Statistical aggregates (stddev/variance/correlation) per key. "
    "stddev/var are total built-ins on both engines (single row → "
    "NULL, zero variance → 0); the correlation goes through the "
    "exact-moment kernel (operators/stats.py) on 1e-6-quantized values "
    "— built-in corr() DIVIDE_BY_ZEROs under ANSI when either side has "
    "zero variance (e.g. a single-event key).",
)
def q_stats_agg(spark, sf_dir):
    from ..operators.stats import (
        corr_from_moments_named,
        corr_moment_aggs_named,
        quantize,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        # stable_round-then-cast (operators/stats.quantize): a plain
        # double->DECIMAL cast is knife-edge-prone cross-engine
        quantize(F.col("value"), 6, "decimal(18,6)").alias("__vq"),
        F.col("user_id").cast("decimal(18,6)").alias("__uq"),
    )
    m = e.groupBy("event_type").agg(
        stable_round(F.stddev_samp("value"), 4).alias("sd"),
        stable_round(F.var_samp("value"), 4).alias("var"),
        stable_round(F.min("value"), 4).alias("vmin"),
        stable_round(F.max("value"), 4).alias("vmax"),
        # 6-digit product grid: uq is a RAW id, so the 12-digit default
        # would cross the |x·y|·10^d < 2^53 quantize domain bound at
        # user_id ≈ 3e3; digits=6 holds exactness to user_id ≈ 9.5e4.
        *corr_moment_aggs_named("__vq", "__uq", "cu", "decimal(38,6)", 6),
    )
    return m.select(
        "event_type",
        "sd",
        "var",
        stable_round(corr_from_moments_named("cu"), 4).alias("corr_uid"),
        "vmin",
        "vmax",
    ).orderBy("event_type")


@register(
    "q_embedding_centroids",
    """
    SELECT label, i AS dim, round(avg(embedding[i]::DOUBLE), 6) AS centroid
    FROM embeddings, range(1, 65) AS r(i)
    GROUP BY label, i
    """,
    doc="Per-label centroid (elementwise mean): posexplode → two-key agg. "
    "The k-means/IVF building block — one shuffle on (label, dim).",
)
def q_embedding_centroids(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid"))
    )


@register(
    "q_token_frequency",
    r"""
    SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
    FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY freq DESC, token
    LIMIT 50
    """,
    doc="Corpus token frequency + document frequency, top 50 (the TF/DF "
    "primitive behind quality filters and IDF weighting).",
)
def q_token_frequency(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


@register(
    "q_date_functions",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d,
           year(o_orderdate) AS y,
           quarter(o_orderdate) AS q,
           month(o_orderdate) AS m,
           dayofweek(o_orderdate) AS dow,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002,
           strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS plus_90d
    FROM orders
    WHERE o_orderkey % 10 = 0
    ORDER BY o_orderkey
    """,
    doc="F6/F7 date/time function family (parts, last_day, diff, add).",
)
def q_date_functions(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.orders.where(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"),
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
            # DuckDB dayofweek: 0=Sunday..6; Spark dayofweek: 1=Sunday..7
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
            F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
            F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_2002"),
            F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 90), "yyyy-MM-dd").alias("plus_90d"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q_string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS uname,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           reverse(c_name) AS rname,
           levenshtein(c_name, 'Customer#000000042') AS lev42,
           length(c_name) AS name_len,
           replace(c_name, 'Customer', 'Client') AS renamed
    FROM customer
    ORDER BY c_custkey
    """,
    doc="F1/F2 string function family (case, pad, reverse, edit distance).",
)
def q_string_functions(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.customer.select(
            "c_custkey",
            F.upper("c_name").alias("uname"),
            F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
            F.reverse("c_name").alias("rname"),
            F.levenshtein("c_name", F.lit("Customer#000000042")).alias("lev42"),
            F.length("c_name").alias("name_len"),
            F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Client")).alias("renamed"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q_cube_status",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="CUBE grouping sets over orders. Money accumulates as the "
    "split-LONG grid (grid_sum_parts) — CUBE feeds every row into 4 "
    "grouping sets, so the DECIMAL(p+10) BigDecimal tax is paid 4x per "
    "row; measured 2.3x faster at sf1 on this join-free shape "
    "(GRID_SUM_FULLSCAN discipline, round 13), bit-identical output.",
)
def q_cube_status(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *grid_sum_parts(grid_long("o_totalprice"), "total", 2),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n",
            money_round(grid_sum_value("total", 2)).alias("total"),
        )
        .orderBy(F.asc_nulls_first("o_orderstatus"), F.asc_nulls_first("o_orderpriority"))
    )


@register(
    "q_conditional_agg",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           count(*) FILTER (WHERE event_type = 'error') AS n_errors,
           round(coalesce(sum(value) FILTER (WHERE event_type = 'purchase'), 0.0), 4) AS purchase_value,
           count(*) AS n_total
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Conditional aggregation (FILTER clause / count_if family).",
)
def q_conditional_agg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    is_p = F.col("event_type") == "purchase"
    return (
        e.groupBy("user_id")
        .agg(
            F.count_if(is_p).alias("n_purchases"),
            F.count_if(F.col("event_type") == "error").alias("n_errors"),
            F.round(
                F.coalesce(F.sum(F.when(is_p, F.col("value"))), F.lit(0.0)), 4
            ).alias("purchase_value"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("user_id")
    )


@register(
    "q_window_lead_first",
    """
    SELECT o_custkey, o_orderkey,
           lead(o_orderkey) OVER w AS next_orderkey,
           first_value(o_orderkey) OVER w AS first_orderkey,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_orderkey,
           ntile(4) OVER w AS quartile,
           rank() OVER (PARTITION BY o_custkey ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS status_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Analytic window family: lead / first_value / nth_value / ntile / "
    "rank / dense_rank (decimal order key keeps rank ties engine-exact).",
)
def q_window_lead_first(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, 0)
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        F.nth_value("o_orderkey", 2).over(wrows).alias("second_orderkey"),
        F.ntile(4).over(w).alias("quartile"),
        F.rank()
        .over(Window.partitionBy("o_custkey").orderBy(F.desc(F.col("o_totalprice").cast("decimal(18,2)"))))
        .alias("price_rank"),
        F.dense_rank()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderstatus"))
        .alias("status_rank"),
    )


@register(
    "q_array_functions",
    """
    SELECT vec_id,
           len(embedding) AS arr_len,
           round(list_sum(embedding[1:8]::DOUBLE[]), 6) AS head8_sum,
           round(list_max(embedding)::DOUBLE, 6) AS max_elem,
           round(list_min(embedding)::DOUBLE, 6) AS min_elem,
           round(list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))), 6) AS l1_norm
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="Array function family over the vector column (size/slice/fold/"
    "elementwise transform) — all JVM-side, no UDF.",
)
def q_array_functions(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").alias("arr_len"),
        F.round(fold(F.slice(emb_d, 1, 8)), 6).alias("head8_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_elem"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("min_elem"),
        F.round(fold(F.transform(emb_d, lambda x: F.abs(x))), 6).alias("l1_norm"),
    ).orderBy("vec_id")


@register(
    "q_bpe_tokens",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+')) AS n_bpe_tokens,
           len(regexp_extract_all(translate(lower(translate(text, 'İ', 'i')), 'ς', 'σ'), ' ?[0-9]+')) AS n_number_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="BPE-ish pretokenization (GPT-2-style regex split classes): token "
    "counts per doc — the token-budget primitive for corpus planning.",
)
def q_bpe_tokens(spark, sf_dir):
    from ..functions.text import portable_lower

    d = load_table(spark, sf_dir, "documents")
    low = portable_lower(F.col("text"))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"), F.lit(0))).alias("n_bpe_tokens"),
        F.size(F.regexp_extract_all(low, F.lit(" ?[0-9]+"), F.lit(0))).alias("n_number_tokens"),
    ).orderBy("doc_id")


@register(
    "q_tfidf_top_tokens",
    r"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ), stats AS (
        SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM tok GROUP BY token
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT token, tf, df,
           round(tf * ln((n.n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
    FROM stats, n
    ORDER BY tfidf DESC, token
    LIMIT 25
    """,
    doc="TF-IDF weighting of corpus tokens (the IDF join is a 1-row "
    "broadcast; ln on identical doubles is engine-exact).",
)
def q_tfidf_top_tokens(spark, sf_dir):
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    # n_docs rides as a 1-row broadcast (the registry idiom), NOT a
    # driver-side .count() — one job, one documents scan at any scale
    n_row = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_row))
        .select(
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), "token")
        .limit(25)
    )


@register(
    "q_grouped_pandas_quantiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 4) AS q25,
           round(quantile_cont(value, 0.75), 4) AS q75,
           round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 4) AS iqr
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="UDAF surface (SURVEY §2.10): grouped applyInPandas computing "
    "IQR quantiles in numpy — Arrow batches per group, oracle-checked "
    "against quantile_cont (numpy 'linear' interpolation is the same "
    "estimator). The pattern slot for custom per-key model aggregation.",
)
def q_grouped_pandas_quantiles(spark, sf_dir):
    import pandas as pd

    e = load_table(spark, sf_dir, "events")

    def quantiles(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # NULL values arrive as NaN in the Arrow batch; np.percentile
        # would propagate them into NaN quantiles, while quantile_cont
        # (and every SQL aggregate) skips NULLs. Drop NaN first; an
        # all-null group quantiles to NULL, not NaN.
        vals = pdf["value"].to_numpy(np.float64)
        vals = vals[~np.isnan(vals)]
        if len(vals) == 0:
            q25 = q75 = iqr = None
        else:
            r25, r75 = np.percentile(vals, [25.0, 75.0])
            q25, q75 = round(float(r25), 4), round(float(r75), 4)
            iqr = round(float(r75 - r25), 4)
        return pd.DataFrame(
            [
                {
                    "event_type": pdf["event_type"].iloc[0],
                    "q25": q25,
                    "q75": q75,
                    "iqr": iqr,
                }
            ]
        )

    return (
        e.select("event_type", "value")
        .groupBy("event_type")
        .applyInPandas(quantiles, "event_type string, q25 double, q75 double, iqr double")
        .orderBy("event_type")
    )


@register(
    "q_range_join",
    """
    SELECT p.event_id AS purchase_id, count(c.event_id) AS n_recent_clicks,
           round(coalesce(sum(c.value), 0.0), 4) AS click_value
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
    doc="Interval range join (the batch form of a stream-stream join with "
    "a time bound): clicks within 30 min before each purchase, per user. "
    "Equi-key on user_id carries the hash partitioning; the range bound "
    "filters within partitions.",
)
def q_range_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
        F.col("event_id").alias("c_id"),
    )
    j = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return j.groupBy("purchase_id").agg(
        F.count("c_id").alias("n_recent_clicks"),
        F.round(F.coalesce(F.sum("c_value"), F.lit(0.0)), 4).alias("click_value"),
    )


@register(
    "q_pivot_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    doc="Pivot (long→wide): per-user event-type count matrix via Spark's "
    "pivot with explicit values (no distinct-discovery pass at scale).",
)
def q_pivot_counts(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .orderBy("user_id")
    )
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "q_null_semantics",
    """
    SELECT l_orderkey, l_linenumber,
           nullif(l_discount, 0.0) AS disc_or_null,
           coalesce(nullif(l_discount, 0.0), -1.0) AS disc_default,
           CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 'none' ELSE 'some' END AS disc_class,
           ifnull(nullif(l_tax, 0.0), 0.999) AS tax_default
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="NULL-handling family: nullif/coalesce/ifnull and NULL-aware CASE.",
)
def q_null_semantics(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    disc_null = F.nullif(F.col("l_discount"), F.lit(0.0))
    return (
        t.lineitem.where(F.col("l_orderkey") % 100 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            disc_null.alias("disc_or_null"),
            F.coalesce(disc_null, F.lit(-1.0)).alias("disc_default"),
            F.when(disc_null.isNull(), "none").otherwise("some").alias("disc_class"),
            F.ifnull(F.nullif(F.col("l_tax"), F.lit(0.0)), F.lit(0.999)).alias("tax_default"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q_histogram_buckets",
    """
    SELECT event_type,
           CASE WHEN value < 0 THEN 0
                WHEN value >= 200.0 THEN 21
                ELSE CAST(floor(value * 20.0 / 200.0) + 1 AS INT) END AS bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, bucket
    """,
    doc="Equi-width histogram via width_bucket (the profiling/binning "
    "primitive; two-key agg, map-side combined).",
)
def q_histogram_buckets(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    b = F.width_bucket("value", F.lit(0.0), F.lit(200.0), F.lit(20)).cast("int")
    return (
        e.groupBy("event_type", b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


@register(
    "q_parse_date_flexible",
    """
    WITH rendered AS (
        SELECT o_orderkey,
               CASE o_orderkey % 4
                    WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                    WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S')
                    WHEN 2 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M')
                    ELSE strftime(o_orderdate, '%Y-%m-%d') END AS dstr
        FROM orders WHERE o_orderkey % 20 < 4
    )
    SELECT o_orderkey, dstr,
           epoch(coalesce(
               try_strptime(dstr, '%Y-%m-%d %H:%M:%S'),
               try_strptime(dstr, '%Y-%m-%dT%H:%M:%S'),
               try_strptime(dstr, '%Y-%m-%d %H:%M'),
               try_strptime(dstr, '%Y-%m-%d')))::BIGINT AS epoch_s
    FROM rendered
    ORDER BY o_orderkey
    """,
    doc="F6 flexible date parsing (rag_engine.py:40-57): render dates in 4 "
    "formats, recover epoch via coalesced format-ladder parse.",
)
def q_parse_date_flexible(spark, sf_dir):
    from ..functions.scalars import parse_date_flexible

    t = load_tables(spark, sf_dir)
    rendered = (
        t.orders.where(F.col("o_orderkey") % 20 < 4)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 4 == 0, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
            .when(F.col("o_orderkey") % 4 == 1, F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"))
            .when(F.col("o_orderkey") % 4 == 2, F.date_format("o_orderdate", "yyyy-MM-dd HH:mm"))
            .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
            .alias("dstr"),
        )
    )
    return rendered.select(
        "o_orderkey", "dstr", parse_date_flexible(F.col("dstr")).alias("epoch_s")
    ).orderBy("o_orderkey")


@register(
    "q13_order_count_distribution",
    """
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
    doc="TPC-H Q13: customer order-count distribution (outer join with an "
    "ON-clause filter, double aggregation).",
)
def q13_order_count_distribution(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t.orders.where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t.customer.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@register(
    "q17_small_quantity_revenue",
    f"""
    SELECT floor(({decimal_to_double_split_sql('sum(CAST(l.l_extendedprice AS DECIMAL(12,2)))')} / 7.0)
                 * 100 + 0.5) / 100 AS avg_yearly, count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
    doc="TPC-H Q17: correlated scalar subquery (per-part average quantity "
    "threshold) — Catalyst decorrelates to an aggregate + join.",
)
def q17_small_quantity_revenue(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    thresholds = t.lineitem.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    p = t.part.where(F.col("p_brand") == "Brand#23")
    return (
        t.lineitem.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("t_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            # exact DECIMAL sum (order-independent money accumulation),
            # split-cast to double (portable past |v|·10^s > 2^53 where
            # DuckDB's wide-decimal cast double-rounds), one identical
            # /7.0, floor-form snap — same value on both engines at any SF
            stable_round(
                decimal_to_double_split(F.sum(money2("l_extendedprice")))
                / 7.0,
                2,
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q22_global_sales_opportunity",
    """
    WITH avg_bal AS (
        SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nation, count(*) AS n_custs,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    ORDER BY nation
    """,
    doc="TPC-H Q22: scalar subquery threshold + anti join (above-average-"
    "balance customers with no urgent orders).",
)
def q22_global_sales_opportunity(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    avg_bal = (
        t.customer.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("ab"))
    )
    rich = t.customer.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("ab"))
    urgent = t.orders.where(F.col("o_orderpriority") == "1-URGENT")
    no_orders = rich.join(
        urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("nation")
    )


@register(
    "q02_min_cost_supplier",
    """
    SELECT s.s_suppkey, s.s_name, l.l_partkey AS partkey,
           round(min_price.mp, 4) AS min_price
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN (
        SELECT l2.l_partkey AS mp_partkey, min(l2.l_extendedprice / l2.l_quantity) AS mp
        FROM lineitem l2 GROUP BY l2.l_partkey
    ) AS min_price ON min_price.mp_partkey = l.l_partkey
    WHERE l.l_extendedprice / l.l_quantity = min_price.mp
      AND l.l_partkey % 20 = 0
    GROUP BY s.s_suppkey, s.s_name, l.l_partkey, min_price.mp
    ORDER BY partkey, s_suppkey
    """,
    doc="TPC-H Q2-style: supplier(s) offering the minimum unit price per "
    "part — correlated-min subquery decorrelated to an aggregate join.",
)
def q02_min_cost_supplier(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    mins = t.lineitem.groupBy(F.col("l_partkey").alias("mp_partkey")).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("mp")
    )
    l = t.lineitem.where(F.col("l_partkey") % 20 == 0)
    return (
        l.join(mins, F.col("mp_partkey") == F.col("l_partkey"))
        .where(unit == F.col("mp"))
        .join(F.broadcast(t.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_suppkey", "s_name", F.col("l_partkey").alias("partkey"), "mp")
        .agg(F.round(F.first("mp"), 4).alias("min_price"))
        .drop("mp")
        .orderBy("partkey", "s_suppkey")
    )


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(round(r.total_revenue, 2) AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15: top supplier by quarterly revenue — view + scalar max "
    "subquery (the revenue aggregate is computed once and reused). The "
    "revenue is an exact DECIMAL sum: the = max() equality predicate on "
    "a DOUBLE accumulation is engine-divergent once two engines sum in "
    "different orders (the winner itself could differ near ties).",
)
def q15_top_supplier(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    revenue = (
        t.lineitem.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(money2("l_extendedprice") * one_minus_rate("l_discount")).alias(
                "total_revenue"
            )
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        t.supplier.join(revenue, F.col("supplier_no") == F.col("s_suppkey"))
        .join(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", money_round(F.col("total_revenue")).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q_range_frame_window",
    """
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
               AS spend_15d,
           count(*) OVER w AS n_orders_15d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
                 RANGE BETWEEN 15 PRECEDING AND CURRENT ROW)
    """,
    doc="RANGE-framed window (value-based, not row-based): per customer, "
    "rolling 15-day spend ending at each order — the time-window analytic "
    "the reference approximates with bar-count lags (X3). Decimal-exact "
    "sum keeps the oracle bit-identical.",
)
def q_range_frame_window(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    # Day-number ordering: o_orderdate is TIMESTAMP_NTZ (wall-clock), so
    # the TZ-free epoch is a date diff — identical under any session TZ
    # on both engines (unix_timestamp would re-interpret via session TZ).
    day_num = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(day_num).rangeBetween(-15, 0)
    # Windowed split-LONG grid sum (see q_cumulative_spend): same RANGE
    # frame on both LONG partials, recombined per row in exact decimal —
    # identical value to the DECIMAL windowed sum, without its
    # DECIMAL(28,2) buffer's per-row BigDecimal tax.
    u = grid_long("o_totalprice")
    lo = F.pmod(u, F.lit(100))
    hi = ((u - lo) / F.lit(100)).cast("long")
    return t.orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(hi).over(w).alias("__spend_hi"),
        F.sum(lo).over(w).alias("__spend_lo"),
        F.count(F.lit(1)).over(w).alias("n_orders_15d"),
    ).select(
        "o_custkey",
        "o_orderkey",
        F.round(
            grid_sum_value("spend", 2).cast("double"), 2
        ).alias("spend_15d"),
        "n_orders_15d",
    )


@register(
    "q_string_agg",
    """
    SELECT o_orderpriority AS priority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc="Ordered string aggregation (listagg family): sorted distinct "
    "status codes per priority (collect_set -> array_sort -> concat_ws).",
)
def q_string_agg(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t.orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("o_orderstatus"))).alias("statuses"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
        )
        .orderBy("priority")
    )


@register(
    "q_unpivot_ohlc",
    """
    SELECT o_orderkey AS k, m.field, m.v
    FROM orders,
         LATERAL (VALUES ('total', o_totalprice),
                         ('key2', CAST(o_custkey AS DOUBLE))) AS m(field, v)
    WHERE o_orderkey <= 100
    ORDER BY k, field
    """,
    doc="Unpivot (wide→long): per-order measures melted to (key, field, "
    "value) rows via Spark's native unpivot/melt — the inverse of "
    "q_pivot_counts; map-only row expansion, no shuffle before the sort.",
)
def q_unpivot_ohlc(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 100)
    return (
        o.select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("total"),
            F.col("o_custkey").cast("double").alias("key2"),
        )
        .unpivot("k", ["total", "key2"], "field", "v")
        .orderBy("k", "field")
    )


@register(
    "q_sentence_explode",
    r"""
    SELECT doc_id, u.pos::INT AS pos, u.sentence
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(text, '\s*\btable\b\s*')) AS sentence,
               generate_subscripts(regexp_split_to_array(text, '\s*\btable\b\s*'), 1) - 1 AS pos
        FROM documents
    ) u
    WHERE length(u.sentence) > 0 AND doc_id <= 50
    ORDER BY doc_id, pos
    """,
    doc="Row-expanding text split (the UDTF shape, engine-native): split "
    "each document at a delimiter pattern and emit one row per segment "
    "with its position — posexplode(split(...)), a map-only expansion "
    "whose fan-out is data-dependent (chunking stage of a training "
    "pipeline). Delimiter = the "
    "corpus's most frequent token, so fan-out is non-trivial.",
)
def q_sentence_explode(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 50)
    parts = F.split(F.col("text"), r"\s*\btable\b\s*")
    return (
        d.select("doc_id", F.posexplode(parts).alias("pos", "sentence"))
        .where(F.length("sentence") > 0)
        .orderBy("doc_id", "pos")
    )


@register(
    "q_rank_distribution_family",
    """
    SELECT c_mktsegment, c_custkey,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pr,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cd,
           dense_rank() OVER w AS dr,
           row_number() OVER w AS rn
    FROM customer
    WHERE c_custkey <= 400
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) DESC, c_custkey)
    ORDER BY c_mktsegment, rn
    """,
    doc="Distribution-rank family: percent_rank / cume_dist / dense_rank "
    "/ row_number over one shared partitioning — one WindowExec, one "
    "shuffle on the segment key; decimal sort key keeps tie order "
    "engine-identical.",
)
def q_rank_distribution_family(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 400)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").cast("decimal(18,2)").desc(), "c_custkey"
    )
    return (
        c.select(
            "c_mktsegment",
            "c_custkey",
            # integer-ratio values (r/(n-1), r/n) land EXACTLY on round
            # half-boundaries once partitions are large — floor-form
            # round, not engine-native (see functions/scalars.py)
            stable_round(F.percent_rank().over(w), 6).alias("pr"),
            stable_round(F.cume_dist().over(w), 6).alias("cd"),
            F.dense_rank().over(w).alias("dr"),
            F.row_number().over(w).alias("rn"),
        )
        .orderBy("c_mktsegment", "rn")
    )


@register(
    "q_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY status, priority
    """,
    doc="Explicit GROUPING SETS (beyond cube/rollup): per-status, "
    "per-priority, and grand-total aggregates in ONE pass — Spark "
    "expands to a single Expand+HashAggregate, so the fact table is "
    "scanned once however many sets are requested.",
)
def q_grouping_sets(spark, sf_dir):
    # Split-LONG grid money sum in SQL form (mirror of grid_sum_parts /
    # grid_sum_value — same 2.3x-at-sf1 win as q_cube_status on this
    # join-free grouping-sets shape; the DuckDB oracle keeps the exact
    # DECIMAL sum, identical by construction).
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        WITH g AS (
            SELECT o_orderstatus, o_orderpriority,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS u
            FROM __orders_gs
        ), a AS (
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   sum(CAST((u - pmod(u, 100)) / 100 AS BIGINT)) AS hi,
                   sum(pmod(u, 100)) AS lo
            FROM g
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        )
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               n_orders,
               CAST(round(CAST(hi AS DECIMAL(20,0))
                          + CAST(lo AS DECIMAL(20,0)) * CAST('0.01' AS DECIMAL(2,2)),
                          2) AS DOUBLE) AS total
        FROM a
        ORDER BY status, priority
        """
    )


from ..functions.layout import zvalue, zvalue_sql  # noqa: E402


@register(
    "q_zorder_values",
    f"""
    SELECT o_orderkey,
           {zvalue_sql("o_custkey", "datediff('day', TIMESTAMP '1992-01-01', o_orderdate)")} AS zval
    FROM orders
    ORDER BY o_orderkey
    """,
    doc="Morton z-value over (customer, order-day): the 2-D layout key "
    "behind ZORDER-style file clustering — bit interleave as a pure "
    "codegen integer expression (functions/layout.py; layout write path "
    "write_zordered range-partitions by this key so file min/max stats "
    "prune scans on EITHER dimension; clustering quality pinned in "
    "tests/test_storage.py).",
)
def q_zorder_values(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01"))
    return (
        o.select(
            "o_orderkey",
            zvalue(F.col("o_custkey"), day, bits=16).alias("zval"),
        )
        .orderBy("o_orderkey")
    )


from ..operators.asof import asof_join  # noqa: E402


@register(
    "q_asof_join",
    f"""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, ts, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'click'
    ), purch AS (
        SELECT event_id AS purchase_id, user_id, ts,
               epoch_us(ts) AS p_ts_us, value AS purchase_value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.click_id, c.user_id, c.ts_us,
           p.purchase_id,
           round(p.purchase_value, 4) AS purchase_value,
           {stable_round_sql("(c.ts_us - p.p_ts_us) / 1000000.0", 2)} AS gap_sec
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.click_id
    """,
    doc="True two-table as-of join (trade-vs-quote alignment): every "
    "click matched to the user's latest prior-or-equal purchase. Engine "
    "side is the UNION + single-window form (one shuffle on the key, "
    "O(L+R) rows, no range-join pair explosion — operators/asof.py); "
    "oracle is DuckDB's native ASOF LEFT JOIN, so the differential "
    "checks our lowering against a first-class ASOF operator.",
)
def q_asof_join(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", ts_us.alias("ts_us")
    )
    purch = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        ts_us.alias("p_ts_us"),
        F.col("value").alias("purchase_value"),
    )
    j = asof_join(
        clicks, purch, on=["user_id"], left_ts="ts_us", right_ts="p_ts_us",
        right_cols=["purchase_id", "purchase_value"],
    )
    return j.select(
        "click_id", "user_id", "ts_us", "purchase_id",
        F.round("purchase_value", 4).alias("purchase_value"),
        stable_round((F.col("ts_us") - F.col("p_ts_us")) / 1e6, 2).alias("gap_sec"),
    ).orderBy("click_id")


@register(
    "q_approx_percentiles",
    """
    SELECT o_orderpriority,
           floor(quantile_cont(o_totalprice, 0.5)  * 100 + 0.5) / 100 AS p50,
           floor(quantile_cont(o_totalprice, 0.9)  * 100 + 0.5) / 100 AS p90,
           floor(quantile_cont(o_totalprice, 0.99) * 100 + 0.5) / 100 AS p99,
           count(*)::BIGINT AS n,
           TRUE AS sketch_rank_ok
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="GK-sketch approximate percentiles (accuracy=10000) per order "
    "priority — the constant-memory quantile path for 100 TB (exact "
    "percentile_disc shuffles every value per group; the sketch merges "
    "map-side partials). Oracle contract: the row carries the EXACT "
    "continuous percentiles (hash-matched against quantile_cont) plus a "
    "sketch verdict computed in-plan — each GK estimate must fall inside "
    "the exact [p-0.01, p+0.01] percentile bracket, which accuracy=10000 "
    "(rank error ≤ n/10000 ≪ 0.01·n) guarantees deterministically. "
    "Tolerance is additionally pinned in "
    "tests/test_analytics.py::test_approx_percentile_tolerance.",
)
def q_approx_percentiles(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    # Exact brackets for the verdict: GK's estimate is an actual data
    # value within n/10000 ranks of the target, and quantile_cont is
    # monotone, so estimate ∈ [cont(p-0.01), cont(p+0.01)] always holds
    # for an intact sketch (0.99+0.01 caps at 1.0 = max).
    brackets = [0.49, 0.51, 0.89, 0.91, 0.98, 1.0]
    agg = o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias("pcts"),
        F.percentile("o_totalprice", F.lit([0.5, 0.9, 0.99])).alias("ex"),
        F.percentile("o_totalprice", F.lit(brackets)).alias("br"),
        F.count(F.lit(1)).alias("n"),
    )
    ok = (
        (F.col("pcts")[0] >= F.col("br")[0]) & (F.col("pcts")[0] <= F.col("br")[1])
        & (F.col("pcts")[1] >= F.col("br")[2]) & (F.col("pcts")[1] <= F.col("br")[3])
        & (F.col("pcts")[2] >= F.col("br")[4]) & (F.col("pcts")[2] <= F.col("br")[5])
    )
    return agg.select(
        "o_orderpriority",
        stable_round(F.col("ex")[0], 2).alias("p50"),
        stable_round(F.col("ex")[1], 2).alias("p90"),
        stable_round(F.col("ex")[2], 2).alias("p99"),
        "n",
        ok.alias("sketch_rank_ok"),
    ).orderBy("o_orderpriority")


@register(
    "q_winsorized_stats",
    """
    WITH p AS (
        -- thresholds snapped to a 9dp grid (floor form): Spark's
        -- percentile and DuckDB's quantile_cont use different linear-
        -- interpolation arithmetic, so a threshold that lands ON a data
        -- grid point can differ by 1 ULP between engines (2.52 vs
        -- 2.5200000000000005 at sf1) and flip every row tied at that
        -- value; 1e-9 is far below the data grid and far above ULP
        SELECT event_type,
               floor(quantile_cont(value, 0.05) * 1000000000 + 0.5)
                   / 1000000000 AS p05,
               floor(quantile_cont(value, 0.95) * 1000000000 + 0.5)
                   / 1000000000 AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           floor(avg(e.value) * 1000000 + 0.5) / 1000000 AS raw_mean,
           floor(avg(CASE WHEN e.value < p.p05 THEN p.p05
                          WHEN e.value > p.p95 THEN p.p95
                          ELSE e.value END) * 1000000 + 0.5) / 1000000
               AS winsorized_mean,
           sum(CASE WHEN e.value < p.p05 OR e.value > p.p95 THEN 1 ELSE 0 END)::BIGINT
               AS n_clipped
    FROM events e JOIN p ON e.event_type = p.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    doc="Winsorized (p05/p95-clipped) feature statistics per event type — "
    "the outlier-robust normalization step of a feature pipeline. Exact "
    "percentiles via Spark's `percentile` aggregate (linear interpolation, "
    "same contract as SQL percentile_cont) SNAPPED to a 9dp floor-form "
    "grid: the two engines' interpolation arithmetic differs by 1 ULP "
    "exactly when the threshold lands on a data grid point, where every "
    "tied row flips clip-side together (the round-11 sf1 red — 50 rows at "
    "2.52); thresholds live in a 1-row-per-"
    "group frame broadcast back onto the fact scan, so the clip pass is "
    "map-only. Note the per-group exact percentile collects the group's "
    "values — fine for bounded group counts; q_approx_percentiles is the "
    "sketch path when groups are huge.",
)
def q_winsorized_stats(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy("event_type").agg(
        stable_round(F.percentile("value", F.lit(0.05)), 9).alias("p05"),
        stable_round(F.percentile("value", F.lit(0.95)), 9).alias("p95"),
    )
    j = e.join(F.broadcast(p), "event_type")
    clipped = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            stable_round(F.avg("value"), 6).alias("raw_mean"),
            stable_round(F.avg(clipped), 6).alias("winsorized_mean"),
            F.sum(
                F.when(
                    (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")), 1
                ).otherwise(0)
            ).alias("n_clipped"),
        )
        .orderBy("event_type")
    )


@register(
    "q_funnel_conversion",
    """
    WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    v AS (SELECT user_id, min(ts) AS t_view FROM ev WHERE event_type = 'view' GROUP BY user_id),
    c AS (
        SELECT ev.user_id, min(ev.ts) AS t_click
        FROM ev JOIN v ON ev.user_id = v.user_id
        WHERE ev.event_type = 'click' AND ev.ts > v.t_view
        GROUP BY ev.user_id
    ),
    p AS (
        SELECT ev.user_id, min(ev.ts) AS t_purchase
        FROM ev JOIN c ON ev.user_id = c.user_id
        WHERE ev.event_type = 'purchase' AND ev.ts > c.t_click
        GROUP BY ev.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_viewed,
           (SELECT count(*) FROM c) AS n_clicked,
           (SELECT count(*) FROM p) AS n_purchased,
           round(CAST((SELECT count(*) FROM c) AS DOUBLE)
                 / greatest((SELECT count(*) FROM v), 1), 6) AS click_rate,
           round(CAST((SELECT count(*) FROM p) AS DOUBLE)
                 / greatest((SELECT count(*) FROM c), 1), 6) AS purchase_rate
    """,
    doc="Ordered funnel analysis (view -> later click -> later purchase): "
    "each stage is the min event time strictly after the previous stage's "
    "time, per user. Spark side is ONE scan of the event log: shuffle by "
    "user, one ordered-window pass computes running first-view / first-"
    "qualifying-click / first-qualifying-purchase (stage membership is a "
    "ts comparison, so intra-timestamp row order can't change the "
    "result), then a per-user agg and a tiny global rollup. The oracle "
    "spells the same semantics as chained min-agg joins.",
)
def q_funnel_conversion(spark, sf_dir):
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = e.select("user_id", "event_type", "ts").withColumn(
        "t_view_so_far", first_view
    )
    first_click = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t_view_so_far")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click_so_far", first_click)
    qualifies_purchase = (
        (F.col("event_type") == "purchase")
        & (F.col("ts") > F.col("t_click_so_far"))
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(F.col("t_view_so_far").isNotNull()).alias("viewed"),
        F.max(F.col("t_click_so_far").isNotNull()).alias("clicked"),
        F.max(qualifies_purchase).alias("purchased"),
    )
    counts = per_user.agg(
        F.sum(F.col("viewed").cast("long")).alias("n_viewed"),
        F.sum(F.col("clicked").cast("long")).alias("n_clicked"),
        F.sum(F.col("purchased").cast("long")).alias("n_purchased"),
    )
    return counts.select(
        "n_viewed",
        "n_clicked",
        "n_purchased",
        F.round(
            F.col("n_clicked").cast("double") / F.greatest("n_viewed", F.lit(1)), 6
        ).alias("click_rate"),
        F.round(
            F.col("n_purchased").cast("double") / F.greatest("n_clicked", F.lit(1)), 6
        ).alias("purchase_rate"),
    )


@register(
    "q_cohort_retention",
    """
    WITH act AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    first_seen AS (
        SELECT user_id, min(d) AS cohort FROM act GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort, count(*) AS n_cohort FROM first_seen GROUP BY cohort
    )
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, a.d) AS INT) AS day_offset,
           count(*) AS n_active,
           round(CAST(count(*) AS DOUBLE) / max(s.n_cohort), 6) AS retention
    FROM act a
    JOIN first_seen f ON a.user_id = f.user_id
    JOIN sizes s ON s.cohort = f.cohort
    WHERE date_diff('day', f.cohort, a.d) <= 7
    GROUP BY f.cohort, CAST(date_diff('day', f.cohort, a.d) AS INT)
    ORDER BY f.cohort, day_offset
    """,
    doc="Cohort retention: users grouped by first-active date, activity "
    "counted per day-offset (0-7), retention = active/cohort-size. The "
    "distinct (user, day) projection collapses the event log FIRST (the "
    "only pass over the big table); everything after operates on "
    "users x days rows. Joins share the user_id key; cohort sizes are a "
    "broadcast-scale dim.",
)
def q_cohort_retention(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    act = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    first_seen = act.groupBy("user_id").agg(F.min("d").alias("cohort"))
    sizes = first_seen.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_cohort"))
    off = F.datediff(F.col("d"), F.col("cohort")).cast("int")
    return (
        act.join(first_seen, "user_id")
        .withColumn("day_offset", off)
        .where(F.col("day_offset") <= 7)
        .join(F.broadcast(sizes), "cohort")
        .groupBy("cohort", "day_offset")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.round(F.count(F.lit(1)).cast("double") / F.max("n_cohort"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort", "day_offset")
    )


@register(
    "q_sketch_reaggregation",
    """
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS exact_users,
           count(DISTINCT CAST(ts AS DATE))::BIGINT AS n_daily_sketches,
           TRUE AS union_within_5pct
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Mergeable-sketch distinct counting (Apache DataSketches HLL via "
    "hll_sketch_agg / hll_union_agg / hll_sketch_estimate): build one "
    "binary sketch per (event_type, day) — the STORABLE partial a 100 TB "
    "pipeline writes per partition/day — then union-merge the partials "
    "per event_type and estimate. This is the capability "
    "approx_count_distinct (q_approx_distinct) lacks: its HLL++ buffers "
    "are plan-internal, so cross-job/cross-day reaggregation is "
    "impossible, while DataSketches partials can be stored and merged "
    "hierarchically without touching raw rows again. Oracle contract: "
    "exact per-type distinct users and the daily-partial count are "
    "hash-matched; the union estimate must land within "
    "max(5%·exact, 2) of exact (lgConfigK=12 ⇒ rsd≈1.6%, "
    "deterministic — the sketch is a pure function of the value set).",
)
def q_sketch_reaggregation(spark, sf_dir):
    from ..operators.sketches import hll_partials

    e = load_table(spark, sf_dir, "events")
    daily = hll_partials(
        e, "user_id", ["event_type", F.to_date("ts").alias("day")]
    )
    # hll_merge_estimate inlined here because the contract also counts
    # the partials it merged (n_daily_sketches) in the same aggregate.
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.count(F.lit(1)).alias("n_daily_sketches"),
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("long").alias("exact_users"),
            F.col("n_daily_sketches").cast("long").alias("n_daily_sketches"),
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(2.0), F.col("exact_users") * 0.05)
            ).alias("union_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "q_kll_quantile_merge",
    """
    SELECT count(*)::BIGINT AS n,
           floor(quantile_cont(o_totalprice, 0.25) * 100 + 0.5) / 100 AS p25,
           floor(quantile_cont(o_totalprice, 0.50) * 100 + 0.5) / 100 AS p50,
           floor(quantile_cont(o_totalprice, 0.75) * 100 + 0.5) / 100 AS p75,
           TRUE AS kll_rank_ok
    FROM orders
    """,
    doc="Mergeable-sketch quantiles (DataSketches KLL, k=800): build one "
    "binary sketch per hash shard — the storable per-partition partial — "
    "then fold the shard sketches into one with the scalar "
    "kll_sketch_merge_double (an array reduce over collect_list; the "
    "shard count is fixed and small, so the fold is O(shards) on 8 tiny "
    "binaries, never corpus rows) and probe p25/p50/p75. Oracle "
    "contract: exact continuous quantiles hash-matched via the "
    "engine-portable stable rounding, plus an in-plan verdict that each "
    "KLL estimate falls inside the exact [p-0.02, p+0.02] rank bracket "
    "(k=800 ⇒ 99%-confidence rank error ≈0.56%, so the 2% bracket holds "
    "with overwhelming margin despite KLL's randomized compaction). The "
    "exact side's global percentile buffers all values in one reducer — "
    "contract-only; the KLL side IS the 100 TB path.",
)
def q_kll_quantile_merge(spark, sf_dir):
    from ..operators.sketches import kll_merged_quantiles, kll_partials

    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("double")
    shards = kll_partials(
        o, price, [F.pmod(F.xxhash64("o_orderkey"), F.lit(8)).alias("shard")],
        k=800,
    )
    probes = [0.25, 0.50, 0.75]
    brackets = [0.23, 0.27, 0.48, 0.52, 0.73, 0.77]
    exact = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile(price, F.lit(probes)).alias("ex"),
        F.percentile(price, F.lit(brackets)).alias("br"),
    )
    merged = kll_merged_quantiles(shards, probes)
    ok = F.lit(True)
    for i in range(len(probes)):
        ok = ok & (
            (F.col(f"q_{i}") >= F.col("br")[2 * i])
            & (F.col(f"q_{i}") <= F.col("br")[2 * i + 1])
        )
    # 1-row exact aggregate × 1-row merged sketch: the allowlisted
    # scalar-broadcast cross join.
    return exact.crossJoin(F.broadcast(merged)).select(
        "n",
        stable_round(F.col("ex")[0], 2).alias("p25"),
        stable_round(F.col("ex")[1], 2).alias("p50"),
        stable_round(F.col("ex")[2], 2).alias("p75"),
        ok.alias("kll_rank_ok"),
    )


@register(
    "q_rolling_distinct",
    """
    WITH ed AS (
        SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        FROM events
    ), days AS (
        SELECT DISTINCT event_type, day FROM ed
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS users_7d
    FROM days d
    JOIN ed e ON e.event_type = d.event_type
             AND e.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.event_type, d.day
    ORDER BY d.event_type, d.day
    """,
    doc="Rolling 7-day distinct users per event type — the windowed "
    "COUNT(DISTINCT) SQL windows can't express and a naive range self-"
    "join makes quadratic. Lowered to linear row growth: dedup to "
    "(type, user, active-day), EXPLODE each activity onto the <= 7 "
    "window-end days it can serve (sequence + explode), dedup again, "
    "and hash-count per (type, day) — exactly 7x the deduped activity "
    "rows, shuffled on (type, day), joined back to observed days. At "
    "100 TB this stays two hash aggregates + one map-side explode; no "
    "range join, no per-key window sort.",
)
def q_rolling_distinct(spark, sf_dir):
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )
    contrib = e.select(
        "event_type",
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("day"),
    ).distinct()
    counts = contrib.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("users_7d")
    )
    days = e.select("event_type", "day").distinct()
    return (
        counts.join(days, ["event_type", "day"])
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "users_7d",
        )
        .orderBy("event_type", "day")
    )


@register(
    "q_mad_outliers",
    """
    WITH o AS (
        SELECT c_mktsegment AS segment, o_totalprice AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
    ), med AS (
        -- 9dp floor-form snap: the engines' percentile interpolation
        -- arithmetic differs by 1 ULP exactly when the median lands ON
        -- the data grid, where tied rows flip the adev>k*mad flag
        -- together (the q_winsorized_stats sf1 class)
        SELECT segment,
               floor(quantile_cont(x, 0.5) * 1000000000 + 0.5)
                   / 1000000000 AS med
        FROM o GROUP BY segment
    ), dev AS (
        SELECT o.segment, x, med, abs(x - med) AS adev
        FROM o JOIN med USING (segment)
    ), mad AS (
        SELECT segment, any_value(med) AS med,
               floor(quantile_cont(adev, 0.5) * 1000000000 + 0.5)
                   / 1000000000 AS mad
        FROM dev GROUP BY segment
    )
    SELECT d.segment,
           CAST(count(*) AS BIGINT) AS n,
           floor(any_value(m.med) * 10000 + 0.5) / 10000 AS med,
           floor(any_value(m.mad) * 10000 + 0.5) / 10000 AS mad,
           CAST(count(*) FILTER (d.adev > 4.4478 * m.mad) AS BIGINT)
               AS n_outliers,
           floor(CAST(count(*) FILTER (d.adev > 4.4478 * m.mad) AS DOUBLE)
                 / count(*) * 1000000 + 0.5) / 1000000 AS outlier_pct
    FROM dev d JOIN mad m USING (segment)
    GROUP BY d.segment ORDER BY d.segment
    """,
    doc="Robust outlier detection per market segment: median / MAD "
    "(median absolute deviation) on order totals, flagging "
    "|x - med| > 3 * 1.4826 * MAD (the normal-consistent robust "
    "z > 3). Two exact-percentile aggregates with the 5-row medians "
    "broadcast back between passes — three scans, no window. Exact "
    "percentile concentrates each segment into one task; the 100 TB "
    "swap is WIRED (round 14, operators/quantiles.py): the same call "
    "site runs strategy='auto', whose zero-job Catalyst size gate "
    "keeps exact percentile at every oracle-checked SF and switches "
    "to mergeable approx_percentile sketches (rank error ≤ n/10000, "
    "tolerance contract + executed sf1 probe in "
    "tests/test_quantile_strategies.py) above 8 GiB of input.",
)
def q_mad_outliers(spark, sf_dir):
    from ..operators.quantiles import mad_outliers

    t = load_tables(spark, sf_dir)
    o = t.orders.join(
        t.customer, F.col("o_custkey") == F.col("c_custkey")
    ).select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("x"))
    return mad_outliers(o, group_col="segment", value_col="x", strategy="auto")

# Registration order: the statistical/behavioral tier continues the
# original contiguous advanced.py block (mechanical round-11 split).
from . import advanced_stats  # noqa: E402,F401
