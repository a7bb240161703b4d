"""Generalized analytic surface (SURVEY.md §2.4-2.7, §2.12).

The grouped/window/set-op queries the reference's schema is built for
but executes only implicitly inside BigQuery. All pure DataFrame ops —
exact-decimal aggregation keeps values bitwise-reproducible against the
DuckDB oracle (see queries_catalog docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.scalar import epoch_seconds, finite_metric, quote_ident
from ..queries_catalog import TS_FMT_DUCK, TS_FMT_SPARK, register
from ..sources.registry import load_table, read_parquet
from ..localrel import local_df


def _dec(col: str) -> F.Column:
    return F.col(col).cast("decimal(18,4)")


def _money(col, alias: str) -> F.Column:
    return F.round(F.sum(col), 2).cast("double").alias(alias)


# --- grouped aggregation (TPC-H Q1 shape: the cost-rollup analog) ------------
@register(
    "grouped_cost_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))
                          * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def grouped_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-series generalized: grouped rollup over the volume table
    (the cost-by-service/sku/month analog of the billing schema,
    SURVEY.md §2.4). Partial aggregation (map-side combine) is automatic;
    decimal math keeps the oracle comparison exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty, price, disc, tax = (
        _dec("l_quantity"),
        _dec("l_extendedprice"),
        _dec("l_discount"),
        _dec("l_tax"),
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _money(qty, "sum_qty"),
        _money(price, "sum_base_price"),
        _money(price * (F.lit(1) - disc), "sum_disc_price"),
        _money(price * (F.lit(1) - disc) * (F.lit(1) + tax), "sum_charge"),
        (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --- multi-join rollup ---------------------------------------------------------
@register(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           COUNT(*) AS n_lineitems,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join rollup (TPC-H Q5 shape), with the revenue aggregation
    *pushed below the join*: lineitem is pre-aggregated per orderkey
    before meeting orders, so the orderkey shuffle carries one row per
    order instead of one per lineitem (~4x fewer rows at TPC-H ratios).
    Decimal partial sums re-sum exactly, so the answer is bitwise
    identical to the single-level form. Small dims then join broadcast
    — at 100 TB the only shuffles are the two fact keys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    li_agg = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(price * (F.lit(1) - disc)).alias("_rev"),
    )
    return (
        li_agg.join(orders, li_agg.l_orderkey == orders.o_orderkey)
        # customer scales with SF — leave its broadcast to size-based
        # planning/AQE; only the fixed 25-row nation is pinned
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum("_n").cast("bigint").alias("n_lineitems"),
            F.round(F.sum("_rev"), 2).cast("double").alias("revenue"),
        )
    )


# --- top-k -----------------------------------------------------------------------
@register(
    "top10_orders_by_value",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top10_orders_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 generalized: top-k — Spark plans TakeOrderedAndProject (per-
    partition heap + driver merge; no full sort even at 100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# --- window: running total ----------------------------------------------------
@register(
    "window_running_total",
    oracle=f"""
    SELECT user_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_str,
           CAST(SUM((CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(18,4)) END))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM events WHERE user_id < 20 AND ts IS NOT NULL
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 generalized: running aggregate per key (decimal-exact).
    Timeline contract (edge-replay finding): NULL-ts events are off
    the timeline on BOTH engines — Spark sorts NULLS FIRST and DuckDB
    NULLS LAST, so an unfiltered NULL ts would shift every running
    frame differently per engine."""
    events = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 20) & F.col("ts").isNotNull()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "user_id",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
        F.sum(_dec("value")).over(w).cast("double").alias("running_value"),
    )


# --- window: sessionization -----------------------------------------------------
@register(
    "sessionization_gap30m",
    oracle="""
    SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions
    FROM (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL
      )
    ) GROUP BY user_id
    """,
)
def sessionization_gap30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min -> cumulative session ids — the
    batch equivalent of streaming session_window. Timeline contract
    (edge-replay finding): NULL-ts events are off the timeline on
    both engines (Spark NULLS FIRST vs DuckDB NULLS LAST would place
    them in different sessions)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = epoch_seconds(F.col("ts")) - epoch_seconds(F.lag(F.col("ts")).over(order))
    new_session = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    cum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(cum))
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").cast("bigint").alias("n_sessions"))
    )


# --- set operations ---------------------------------------------------------------
@register(
    "set_union_active_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION
    SELECT user_id FROM events WHERE event_type = 'signup'
    """,
)
def set_union_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: UNION (distinct)."""
    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "purchase").select("user_id")
    b = events.filter(F.col("event_type") == "signup").select("user_id")
    return a.union(b).distinct()


@register(
    "set_intersect_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: INTERSECT."""
    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "purchase").select("user_id")
    b = events.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@register(
    "set_except_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: EXCEPT."""
    events = load_table(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "view").select("user_id")
    b = events.filter(F.col("event_type") == "purchase").select("user_id")
    return a.subtract(b)  # EXCEPT (set semantics), not exceptAll (bag)


# --- distinct ----------------------------------------------------------------------
@register(
    "distinct_user_event_types",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def distinct_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT as hash aggregate."""
    return load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct()


# --- cube / grouping sets -----------------------------------------------------------
@register(
    "cube_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets (CUBE) — superset of the reference's scalar aggs."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
    )


# --- pivot ----------------------------------------------------------------------------
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_counts",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (no extra distinct-discovery
    pass — required at scale)."""
    events = load_table(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    for t in EVENT_TYPES:
        out = out.withColumn(t, F.coalesce(F.col(t), F.lit(0)).cast("bigint"))
    return out


# --- full outer join -----------------------------------------------------------------
@register(
    "full_outer_nation_presence",
    oracle="""
    SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
           c.n_customers, s.n_suppliers
    FROM (SELECT c_nationkey, COUNT(*) AS n_customers
          FROM customer GROUP BY c_nationkey) c
    FULL OUTER JOIN
         (SELECT s_nationkey, COUNT(*) AS n_suppliers
          FROM supplier GROUP BY s_nationkey) s
      ON c.c_nationkey = s.s_nationkey
    """,
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: nations having customers, suppliers, or both —
    aggregate-then-join keeps the outer join on tiny grouped inputs."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_customers"))
    s = supplier.groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_suppliers"))
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        "n_customers",
        "n_suppliers",
    )


# --- correlated-subquery shape: rows above their group average -------------------------
@register(
    "orders_above_customer_avg",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                    OVER (PARTITION BY o_custkey) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
      FROM orders
    ) WHERE o_totalprice > cust_avg
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics (orders above their customer's
    average) decorrelated into one window pass — no per-customer
    re-scan. Average via decimal sum / count for oracle-exact doubles."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --- ranking windows ---------------------------------------------------------------------
@register(
    "order_value_ranks",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def order_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile per customer (total order via orderkey
    tie-break keeps ntile deterministic)."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# --- calendar rollup -----------------------------------------------------------------------
@register(
    "orders_by_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_value
    FROM orders
    GROUP BY order_year, order_month
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar bucketing: the cost-by-invoice-month analog of the
    billing schema (invoice.month, dataset_utils.py:320-323)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


# --- string function surface ------------------------------------------------------------------
@register(
    "string_functions_showcase",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substr(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INT) AS name_len,
           replace(c_mktsegment, 'AUTO', 'CAR') AS segment_replaced,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS lev_building
    FROM customer
    """,
)
def string_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface: case, substring, length, replace, pad,
    edit distance — all codegen'd."""
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("int").alias("name_len"),
        F.replace(F.col("c_mktsegment"), F.lit("AUTO"), F.lit("CAR")).alias(
            "segment_replaced"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.levenshtein(F.col("c_mktsegment"), F.lit("BUILDING"))
        .cast("int")
        .alias("lev_building"),
    )


# --- TPC-H-shaped multi-join analytics -----------------------------------------------------
@register(
    "shipping_priority_top10",
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1997-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two fact joins -> grouped
    revenue -> top-k. Filters sit on each scan (pushed down) so the
    joins see pre-reduced inputs; top-k is TakeOrdered, no global sort."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_money(price * (F.lit(1) - disc), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "returned_item_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS lost_revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue by customer with the
    nation dim broadcast; the top-k keeps the driver transfer tiny."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_money(price * (F.lit(1) - disc), "lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --- unpivot (stack) ----------------------------------------------------------------------
@register(
    "unpivot_event_counts",
    oracle=f"""
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events
    WHERE event_type IN ({", ".join(f"'{t}'" for t in EVENT_TYPES)})
    GROUP BY user_id, event_type
    """,
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot -> stack round-trip: wide per-type counts unpivoted back to
    long form (zero-count combinations dropped to match the grouped
    oracle) — proves pivot/unpivot are lossless inverses. Pivot
    contract (edge-replay finding): the column universe is the KNOWN
    type list, so NULL/unknown types are out of the round-trip's
    scope on both engines (the oracle filters to the same list the
    pivot spreads)."""
    wide = pivot_event_counts(spark, sf_dir)
    stack_args = ", ".join(f"'{t}', {t}" for t in EVENT_TYPES)
    return (
        wide.selectExpr(
            "user_id",
            f"stack({len(EVENT_TYPES)}, {stack_args}) AS (event_type, n)",
        )
        .filter(F.col("n") > 0)
    )


# --- per-group stats -------------------------------------------------------------------
@register(
    "event_type_stats",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           MIN(value) AS min_value, MAX(value) AS max_value,
           CAST(SUM((CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(18,4)) END)) AS DOUBLE) / COUNT(value) AS avg_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max/avg/count-distinct profile per group."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (F.sum(_dec("value")).cast("double") / F.count("value")).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- lead/lag + first/last analytic frame ---------------------------------------------
@register(
    "user_event_deltas",
    oracle=f"""
    SELECT user_id, event_id,
           value - lag(value)  OVER w AS delta_prev,
           lead(value)         OVER w - value AS delta_next,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                                  AND UNBOUNDED FOLLOWING) AS last_type
    FROM events
    WHERE user_id < 50 AND ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def user_event_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag offsets and first/last_value frames per user timeline —
    the remaining analytic-window forms beside rank/ntile/running sums.
    Single IEEE subtractions, so the oracle matches bitwise; last_value
    needs the unbounded-following frame on BOTH engines (the default
    frame ends at CURRENT ROW). One shuffle on user_id serves all five
    expressions (same window spec -> one Window physical node).
    Timeline contract (edge-replay finding): NULL-ts events excluded
    on both engines — otherwise Spark's NULLS FIRST makes them the
    first_value while DuckDB's NULLS LAST makes them the last."""
    events = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 50) & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return events.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        (F.lead("value").over(w) - F.col("value")).alias("delta_next"),
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w_full).alias("last_type"),
    )


# --- explicit GROUPING SETS + grouping_id ---------------------------------------------
@register(
    "grouping_sets_orders",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING(o_orderstatus)  AS INT) AS g_status,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither cube nor rollup): per-priority,
    per-status, and grand-total groups in ONE pass over orders — Spark
    expands the sets and aggregates once, vs three scans if issued
    separately. grouping() markers disambiguate the NULLs produced by
    set expansion from genuine NULL keys."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return orders.sparkSession.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(GROUPING(o_orderstatus)  AS INT) AS g_status,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS total_value
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --- correlated EXISTS with non-equi condition (TPC-H Q4 shape) -----------------------
@register(
    "late_shipment_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate <  TIMESTAMP '1995-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
)
def late_shipment_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape on the trimmed schema: correlated EXISTS whose
    inner predicate references BOTH relations (shipdate > orderdate +
    90d) — a left-semi join with an equi key plus a non-equi residual.
    The semi join deduplicates multi-lineitem orders without a
    distinct; the date window prunes the orders scan via parquet
    min/max before the shuffle."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    return (
        orders.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- array functions showcase ----------------------------------------------------------
@register(
    "array_functions_user_types",
    oracle="""
    SELECT user_id,
           COALESCE(array_to_string(list_sort(
             list(DISTINCT event_type) FILTER (event_type IS NOT NULL)),
             ','), '') AS types,
           CAST(COALESCE(len(list(DISTINCT event_type)
                    FILTER (event_type IS NOT NULL)), 0) AS INT) AS n_types,
           COALESCE(list_has_any(list(DISTINCT event_type)
                        FILTER (event_type IS NOT NULL),
                        ['purchase']), false) AS has_purchase,
           COALESCE(array_to_string(
             list_sort(list_intersect(
               list(DISTINCT event_type) FILTER (event_type IS NOT NULL),
               ['purchase', 'signup'])), ','), '') AS conversion_types
    FROM events WHERE user_id < 100 GROUP BY user_id
    """,
)
def array_functions_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed aggregation + array functions (collect_set,
    array_sort, array_contains, array_intersect): per-user event-type
    profiles as first-class array values. collect_set partial-aggregates
    map-side (sets union associatively), so the shuffle carries distinct
    types per user per partition, never raw events. Array outputs are
    rendered as sorted CSV strings (array_join) so the driver's
    pandas-based hash comparator — which cannot factorize list cells —
    sees canonical scalars on both engines. NULL contract (edge-replay
    finding): Spark's collect_set silently DROPS NULL elements, so the
    oracle's list(DISTINCT) carries an explicit FILTER (NOT NULL) and
    COALESCEs the empty-list string render (DuckDB array_to_string([])
    is NULL where Spark array_join([]) is '')."""
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    types = F.array_sort(F.collect_set("event_type"))
    return events.groupBy("user_id").agg(
        F.array_join(types, ",").alias("types"),
        F.size(F.collect_set("event_type")).cast("int").alias("n_types"),
        F.array_contains(types, "purchase").alias("has_purchase"),
        F.array_join(
            F.array_sort(
                F.array_intersect(types, F.array(F.lit("purchase"), F.lit("signup")))
            ),
            ",",
        ).alias("conversion_types"),
    )


# --- top-k per group -------------------------------------------------------------------
@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey)
                  AS BIGINT) AS rn
      FROM orders WHERE o_custkey < 500
    ) WHERE rn <= 3
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k PER GROUP (vs the global TakeOrdered of
    top10_orders_by_value): row_number window + rank filter. One
    shuffle on the group key; the rank filter collapses each group to
    k rows before anything downstream, so the post-window relation is
    O(groups x k) no matter how large the fact table."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 500)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# --- statistical aggregates from exact sums --------------------------------------------
@register(
    "value_stats_exact",
    oracle="""
    SELECT event_type, n,
           CASE WHEN n > 1
                THEN (sxx - sx * sx / n) / (n - 1) END AS var_value,
           CASE WHEN n > 1
                THEN sqrt((sxx - sx * sx / n) / (n - 1)) END AS stddev_value,
           CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0
                         AND (syy - sy * sy / n) > 0
                THEN (sxy - sx * sy / n)
                     / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
                END AS corr_value_user
    FROM (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM((CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(18,4)) END)) AS DOUBLE) AS sx,
             CAST(SUM((CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(19,4)) END)
                      * (CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(18,4)) END)) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(user_id AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(user_id AS DECIMAL(19,4))
                      * CAST(user_id AS DECIMAL(18,4))) AS DOUBLE) AS syy,
             CAST(SUM((CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(19,4)) END)
                      * CAST(user_id AS DECIMAL(18,4))) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type
    )
    """,
)
def value_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance / stddev / correlation computed from EXACT decimal sums
    (n, Σx, Σx², Σy, Σy², Σxy) and then a fixed tree of single IEEE
    ops — bitwise-reproducible across engines, unlike the built-in
    `stddev`/`corr` whose parallel Welford merges reassociate floats
    differently per partitioning. Same one-pass, map-side-partial cost
    class as the built-ins."""
    events = load_table(spark, sf_dir, "events")
    x, y = _dec("value"), F.col("user_id").cast("decimal(18,4)")
    # left product factors at DECIMAL(19,4): an 18x18 product overflows
    # DuckDB's int64 decimal path for |value| >= 1e9 (edge-replay
    # finding); 19x18 promotes both engines to a wide exact product
    # (Spark result precision 19+18+1 = 38 still fits)
    x19 = F.col("value").cast("decimal(19,4)")
    y19 = F.col("user_id").cast("decimal(19,4)")
    sums = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x19 * x).cast("double").alias("sxx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y19 * y).cast("double").alias("syy"),
        F.sum(x19 * y).cast("double").alias("sxy"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    # degenerate groups guard (edge-replay finding): variance needs
    # n > 1, correlation additionally needs both variances positive —
    # otherwise NULL on BOTH engines instead of an ANSI /0 error here
    # and an IEEE inf/NaN there
    den_x, den_y = sxx - sx * sx / n, syy - sy * sy / n
    var = F.when(n > 1, den_x / (n - 1))
    corr = F.when(
        (n > 1) & (den_x > 0) & (den_y > 0),
        (sxy - sx * sy / n) / (F.sqrt(den_x) * F.sqrt(den_y)),
    )
    return sums.select(
        "event_type",
        "n",
        var.alias("var_value"),
        F.sqrt(var).alias("stddev_value"),
        corr.alias("corr_value_user"),
    )


# --- gaps-and-islands / SCD2-style attribute history -----------------------------------
@register(
    "user_type_history_scd2",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE user_id < 30 AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    spans AS (
      SELECT user_id, event_type, island,
             MIN(ts) AS valid_from, COUNT(*) AS n_events
      FROM islands GROUP BY user_id, event_type, island
    )
    SELECT user_id, event_type,
           strftime(valid_from, '{TS_FMT_DUCK}') AS valid_from,
           strftime(lead(valid_from) OVER (PARTITION BY user_id
                                           ORDER BY valid_from, island),
                    '{TS_FMT_DUCK}') AS valid_to,
           n_events
    FROM spans
    """,
)
def user_type_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands -> SCD2 history: consecutive same-type events
    collapse into validity intervals [valid_from, valid_to), the
    current interval open (NULL valid_to) — the reference's in-place
    config UPDATE (S11) generalized to a full change history. One
    shuffle on user_id serves the lag, the island cumsum, the grouped
    span, and the lead — four logical windows, one exchange. Timeline
    contract (edge-replay finding): NULL-ts events are off the
    history on both engines."""
    events = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 30) & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    islands = events.select(
        "user_id", "event_type", "ts",
        F.sum(chg).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("island"),
    )
    spans = islands.groupBy("user_id", "event_type", "island").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    w_spans = W.partitionBy("user_id").orderBy("valid_from", "island")
    return spans.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_FMT_SPARK).alias("valid_from"),
        F.date_format(F.lead("valid_from").over(w_spans), TS_FMT_SPARK).alias("valid_to"),
        "n_events",
    )


# --- scan-dominant filter+agg (TPC-H Q6 shape) ------------------------------------------
@register(
    "discounted_revenue_window",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS promo_discount_revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def discounted_revenue_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-dominant filter + scalar aggregate (TPC-H Q6 shape): the
    forecast-revenue-change analog of the reference's windowed count
    scan (S2 generalized with value predicates). All four predicates
    reach the parquet scan as PushedFilters; at 100 TB the query is a
    single embarrassingly-parallel scan stage with a 1-row partial-agg
    merge — no shuffle of data rows at all."""
    li = load_table(spark, sf_dir, "lineitem")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _money(price * disc, "promo_discount_revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --- conditional-ratio aggregate over a dim join (TPC-H Q14 shape) ----------------------
@register(
    "promo_revenue_ratio",
    oracle="""
    SELECT CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                               THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                                    * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                               ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE)
             AS promo_revenue,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
             AS total_revenue,
           100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                                      * (1 - CAST(l.l_discount AS DECIMAL(18,4)))
                                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE)
             AS promo_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-ratio aggregate over a dimension join (TPC-H Q14
    shape). `part` broadcasts (it is a per-SKU dim — small even at
    100 TB fact scale), so the fact side never shuffles; the CASE
    arithmetic runs in decimal for exact sums and the final percentage
    is two IEEE ops (mul, div) written identically in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    price, disc = _dec("l_extendedprice"), _dec("l_discount")
    rev = price * (F.lit(1) - disc)
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        # part scales with SF — no pinned broadcast (auto-BHJ here,
        # SMJ degradation at scale)
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.sum(promo_rev), 2).cast("double").alias("promo_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
            (
                F.lit(100.0)
                * F.sum(promo_rev).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
        )
    )


# --- having-filtered aggregate feeding joins (TPC-H Q18 shape) --------------------------
@register(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 200
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S.%f') AS o_orderdate,
           o.o_totalprice,
           CAST(big.total_qty AS DOUBLE) AS total_qty
    FROM big
    JOIN orders o   ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-filtered aggregate feeding joins (TPC-H Q18 shape): the
    per-order quantity rollup runs BEFORE the joins, so the orderkey
    shuffle carries one row per qualifying order — the aggregate acts
    as its own filter (exact decimal comparison against the threshold).
    customer is a broadcast dim; orders joins on the shuffled key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        # customer scales with SF — auto broadcast, not a pinned hint
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", TS_FMT_SPARK).alias("o_orderdate"),
            "o_totalprice",
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


# --- distribution windows: ntile / percent_rank / cume_dist -----------------------------
@register(
    "order_value_distribution_ranks",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(ntile(4) OVER w AS INT) AS value_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume_d
    FROM orders
    WHERE o_totalprice IS NOT NULL
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def order_value_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per priority class — the quantile-bucketing shape used to tier
    customers or size-stratify training data. percent_rank and
    cume_dist are single IEEE divisions of exact integer counts, so
    they hash-match the oracle; o_orderkey breaks ties
    deterministically. One exchange on the partition key serves all
    three windows. NULL-price rows are off the value distribution on
    BOTH sides (round-8 edge-fixture find: a row with valid keys but
    NULL o_totalprice ranks NULLS FIRST in Spark, NULLS LAST in
    DuckDB — the standard ordered-window-over-nullable contract;
    driver data has no NULL prices, so prior greens attest
    bit-identity there)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).cast("int").alias("value_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_d"),
    )


# --- incremental aggregate maintenance (merge partials, don't rescan) --------
@register(
    "incremental_agg_maintenance",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM((CASE WHEN isfinite(value) THEN CAST(value AS DECIMAL(18,4)) END)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: the
    maintained state (per-type counts + DECIMAL sums over the history
    before 2024-01-20) is MERGED with the delta batch's partial
    aggregate via one full-outer coalesce-add — the history is never
    rescanned. The oracle recomputes from scratch over everything,
    proving merge-of-partials == full recompute (exactly the algebra
    map-side combine relies on; DECIMAL sums make it bitwise). At
    100 TB this is the nightly pattern: aggregate the day's delta
    (tiny), merge into the materialized rollup — O(delta + groups)
    instead of O(history)."""
    cutoff = F.lit("2024-01-20 00:00:00").cast("timestamp")
    events = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(18,4)")

    def partial(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            F.sum(vdec).alias(f"s_{tag}"),
        )

    # the split must PARTITION the input: `ts >= cutoff` alone drops
    # NULL-ts rows from BOTH sides (NULL fails both predicates) while
    # the full recompute counts them — so the delta side takes the
    # NEGATION of the state predicate, not a mirrored comparison
    state = partial(events.filter(F.col("ts") < cutoff), "a")
    delta = partial(
        events.filter((F.col("ts") >= cutoff) | F.col("ts").isNull()), "b"
    )
    zero = F.lit(0).cast("decimal(18,4)")
    # null-SAFE key equality: a NULL event_type group present on both
    # sides of the cutoff must merge into ONE row (the full-recompute
    # oracle GROUP BY puts all NULLs in one group); plain `=` would
    # leave two unmerged NULL-key partials
    st, dl = state.alias("st"), delta.alias("dl")
    merged = st.join(
        dl, F.col("st.event_type").eqNullSafe(F.col("dl.event_type")), "full_outer"
    ).select(
        F.coalesce(F.col("st.event_type"), F.col("dl.event_type")).alias(
            "event_type"
        ),
        (F.coalesce(F.col("n_a"), F.lit(0)) + F.coalesce(F.col("n_b"), F.lit(0)))
        .cast("bigint")
        .alias("n_events"),
        # SUM over an all-NULL group is NULL, and the merged sum must
        # reproduce that — zero-filling both sides would turn NULL
        # into 0.0 where the full recompute says NULL
        F.when(F.col("s_a").isNull() & F.col("s_b").isNull(), F.lit(None))
        .otherwise(
            F.coalesce(F.col("s_a"), zero) + F.coalesce(F.col("s_b"), zero)
        )
        .cast("double")
        .alias("total_value"),
    )
    return merged


# --- incremental JOIN-view maintenance (delta-only join, merge partials) -----
@register(
    "incremental_join_maintenance",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the step beyond
    incremental_agg_maintenance: the maintained rollup is defined over
    orders JOIN customer, and when a delta batch of orders arrives,
    ONLY the delta is joined to the dimension and aggregated; its
    partial merges into the maintained state with one full-outer
    coalesce-add. The history is never re-joined or re-scanned
    (one-sided delta maintenance: the dimension is append-stable here,
    the reference's config-table pattern). The oracle recomputes the
    whole join from scratch, proving delta-join + merge == full
    recompute — the algebra holds because join distributes over union
    on the fact side and the aggregate is distributive with DECIMAL
    (order-independent) sums.

    At 100 TB: the maintained state is the persisted MV (groups-sized,
    tiny); per batch the cost is join(delta, dim) + O(groups) merge
    instead of re-joining the full fact history — with the dim side
    broadcast (or co-bucketed) exactly as the nightly pipeline would."""
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    price = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.join(F.broadcast(dim), df.o_custkey == dim.c_custkey)
            .groupBy(
                "c_mktsegment",
                F.year("o_orderdate").cast("bigint").alias("order_year"),
            )
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.sum(price).alias(f"s_{tag}"),
            )
        )

    # negated-predicate split so a NULL o_orderdate could never vanish
    # from both sides (same partition discipline as the agg variant)
    state = partial(orders.filter(F.col("o_orderdate") < cutoff), "a")
    delta = partial(
        orders.filter(
            (F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull()
        ),
        "b",
    )
    zero = F.lit(0).cast("decimal(18,2)")
    # null-SAFE merge keys (same hazard as incremental_agg_maintenance:
    # a NULL-segment customer with orders on both sides of the cutoff
    # must merge into one group, as the full-recompute GROUP BY does)
    st, dl = state.alias("st"), delta.alias("dl")
    return st.join(
        dl,
        F.col("st.c_mktsegment").eqNullSafe(F.col("dl.c_mktsegment"))
        & F.col("st.order_year").eqNullSafe(F.col("dl.order_year")),
        "full_outer",
    ).select(
        F.coalesce(F.col("st.c_mktsegment"), F.col("dl.c_mktsegment")).alias(
            "c_mktsegment"
        ),
        F.coalesce(F.col("st.order_year"), F.col("dl.order_year")).alias(
            "order_year"
        ),
        (
            F.coalesce(F.col("n_a"), F.lit(0))
            + F.coalesce(F.col("n_b"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_orders"),
        F.when(F.col("s_a").isNull() & F.col("s_b").isNull(), F.lit(None))
        .otherwise(
            F.coalesce(F.col("s_a"), zero) + F.coalesce(F.col("s_b"), zero)
        )
        .cast("double")
        .alias("revenue"),
    )


# --- metric anomaly detection from exact trailing sums -----------------------
@register(
    "daily_count_anomaly_zscore",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, day, c,
             COUNT(*)  OVER w AS n,
             SUM(c)    OVER w AS s,
             SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) OVER w AS ss
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           c AS n_events,
           CAST(n AS BIGINT) AS n_history,
           CASE WHEN (CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / CAST(n AS DOUBLE) > 0
                THEN (CAST(c AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt((CAST(ss AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                            / CAST(n AS DOUBLE))
                ELSE NULL END AS z_score
    FROM framed WHERE n >= 3
    """,
)
def daily_count_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational anomaly detection on a metric stream (round-4): each
    day's event count per type is z-scored against its OWN trailing
    7-day window, with mean/variance derived from EXACT integer sums
    (n, Σc, Σc²) — never Welford-merge stddev, whose float
    accumulation is partial-aggregation-order-dependent and therefore
    unverifiable bitwise. One groupBy + one windowed pass; the same
    shape monitors pipeline health metrics (row counts, reject rates)
    at any scale, since the window state per type is a handful of
    integers. Degenerate histories (variance 0) yield NULL rather
    than a division blow-up."""
    events = load_table(spark, sf_dir, "events")
    # NULL-ts rows are dropped on BOTH sides before grouping: a NULL
    # day group would sort NULLS FIRST in Spark but NULLS LAST in the
    # DuckDB oracle's window ORDER BY, shifting every trailing frame
    # differently per engine
    daily = (
        events.filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    n = F.count("c").over(w)
    s = F.sum("c").over(w)
    # c*c in DECIMAL, not long: long multiplication wraps silently past
    # 2^63 (daily counts >= ~1.1e9 at the scale this query advertises)
    # while the oracle's HUGEINT stays exact — promote both sides
    cdec = F.col("c").cast("decimal(38,0)")
    ss = F.sum(cdec * cdec).over(w)
    nd, sd, ssd = n.cast("double"), s.cast("double"), ss.cast("double")
    var = (ssd - sd * sd / nd) / nd
    z = (F.col("c").cast("double") - sd / nd) / F.sqrt(var)
    return (
        daily.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("c").alias("n_events"),
            n.alias("n_history"),
            F.when(var > 0, z).otherwise(F.lit(None)).alias("z_score"),
        )
        .filter(F.col("n_history") >= 3)
    )


def _gc_dead_pid_tables(spark: SparkSession, db: str) -> None:
    """Reap pid-tagged bucketed tables left by FINISHED processes.

    The pid suffix exists so concurrent runs (bench vs driver vs
    parity pytest) never drop a table another live process is lazily
    scanning — but pids don't repeat, so without GC every run would
    leak two table copies into the shared warehouse forever. A dir
    whose trailing ``_<pid>`` is no longer alive is garbage by
    construction. Filesystem-level (not DROP TABLE): a fresh session's
    in-memory catalog does not even list tables earlier sessions left
    in the warehouse. Bounded work: one listdir of the db directory."""
    import os as _os
    import shutil as _shutil
    from urllib.parse import urlparse as _urlparse

    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme not in ("file", ""):
        return
    db_dir = _os.path.join(wh.path, f"{db}.db")
    try:
        entries = _os.listdir(db_dir)
    except OSError:
        return
    for entry in entries:
        pid_part = entry.rsplit("_", 1)[-1]
        if not pid_part.isdigit() or int(pid_part) == _os.getpid():
            continue
        try:
            _os.kill(int(pid_part), 0)
        except ProcessLookupError:
            # quote_ident (backticks, embedded ones doubled): a foreign
            # dir whose name isn't a valid unquoted identifier must not
            # parse-error the reap, and a name containing a backtick
            # must not break OUT of the quoting (an unescaped
            # 'x` --_<deadpid>' would comment the tail off and DROP a
            # live pid's table); one bad entry must never fail the
            # caller's query (ADVICE r6) — the rmtree still runs
            try:
                spark.sql(f"DROP TABLE IF EXISTS {quote_ident(db)}.{quote_ident(entry)}")
            except Exception:  # noqa: BLE001 — reap is best-effort
                pass
            _shutil.rmtree(_os.path.join(db_dir, entry), ignore_errors=True)
        except OSError:
            # PermissionError etc.: the pid exists but isn't ours —
            # treat as alive, never reap a table we can't prove dead
            continue


# --- bucketed co-located join (zero-exchange layout, driver-visible) ---------
@register(
    "bucketed_join_rollup",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS revenue,
           TRUE AS join_zero_exchange,
           TRUE AS join_sort_merge
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def bucketed_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on BUCKETED tables, with the zero-shuffle plan
    assertion itself hash-verified (the etl_provision_rollback
    VALUES-arm pattern): orders and customer are persisted via
    ``operators/layout.write_bucketed`` hash-distributed into the same
    bucket count on the join key, then joined with broadcast disabled —
    the executed plan must be a SortMergeJoin with ZERO Exchange nodes
    (the bucket id IS the partitioning), and those two plan facts ride
    the result as boolean columns the oracle pins to TRUE. The revenue
    rollup proves the bucketed copies are byte-faithful to the source.

    At 100 TB this is the pre-paid layout for every repeated fact-dim
    or fact-fact join on a stable key: one bucketed write converts each
    subsequent join from a full shuffle of the fact table into a local
    merge of co-located buckets (and ``mode("append")`` ingest keeps
    co-location because the bucket function is stable). The plan
    booleans are computed with broadcast joins disabled — the strategy
    a 100 TB fact-fact join is forced into — while the returned rollup
    VALUES are join-strategy-independent.
    """
    import os as _os
    import re as _re

    from ..operators.layout import write_bucketed

    # pid in the table name: concurrent processes at the same scale
    # factor (bench vs driver vs parity pytest) must not DROP/rmtree a
    # table the other is lazily scanning
    tag = _re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    tag = f"{tag}_{_os.getpid()}"
    db = "layout_q"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    _gc_dead_pid_tables(spark, db)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    t_orders = f"{db}.bq_orders_{tag}"
    t_customer = f"{db}.bq_customer_{tag}"

    def _recreate(df: DataFrame, table: str, key: str) -> None:
        # session-independent rebuild: a FRESH session's in-memory
        # catalog does not know tables a previous session left in the
        # shared warehouse directory, and saveAsTable then refuses the
        # existing location — drop from the catalog AND clear the
        # physical dir before writing
        import os as _os
        import shutil as _shutil
        from urllib.parse import urlparse as _urlparse

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
        if wh.scheme in ("file", ""):
            _shutil.rmtree(
                _os.path.join(
                    wh.path, f"{db}.db", table.split(".", 1)[1]
                ),
                ignore_errors=True,
            )
        write_bucketed(df, table, [key], n_buckets=8)

    _recreate(orders, t_orders, "o_custkey")
    _recreate(customer, t_customer, "c_custkey")

    bo = spark.table(t_orders)
    bc = spark.table(t_customer)
    joined = bo.join(bc, bo.o_custkey == bc.c_custkey)

    # plan facts under forced shuffle-join strategy (broadcast off):
    # bucketed SMJ must need no Exchange on either side
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    no_exchange = "Exchange" not in plan
    sort_merge = "SortMergeJoin" in plan

    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("revenue"),
        F.lit(bool(no_exchange)).alias("join_zero_exchange"),
        F.lit(bool(sort_merge)).alias("join_sort_merge"),
    )


# --- Z-order locality accounting (multi-dim layout math, driver-visible) -----
_Z_BITS = 4  # 16x16 Morton grid over (user_id, value)


def _zorder_oracle() -> str:
    """Exact SQL replay of operators/layout.zorder_key at bits=4 over
    (user_id, value): identical bounds, identical (x - lo) / span * 16
    IEEE chain, identical clamp, identical bit interleave."""
    n = 1 << _Z_BITS

    def rank(col: str, lo: str, hi: str) -> str:
        span = f"(CASE WHEN {hi} - {lo} = 0 THEN 1.0 ELSE {hi} - {lo} END)"
        return (
            f"LEAST(GREATEST(CAST(FLOOR(({col} - {lo}) / {span} * {n}) "
            f"AS BIGINT), 0), {n - 1})"
        )

    interleave = " + ".join(
        f"(((r{j} >> {b}) & 1) << {b * 2 + j})"
        for b in range(_Z_BITS)
        for j in range(2)
    )
    return f"""
    WITH eligible AS (
      SELECT CAST(user_id AS DOUBLE) AS u, CAST(value AS DOUBLE) AS v
      FROM events
      WHERE isfinite(value) AND user_id IS NOT NULL AND value IS NOT NULL
    ),
    bounds AS (
      SELECT MIN(u) AS lo_u, MAX(u) AS hi_u, MIN(v) AS lo_v, MAX(v) AS hi_v
      FROM eligible
    ),
    ranked AS (
      SELECT {rank('u', 'lo_u', 'hi_u')} AS r0,
             {rank('v', 'lo_v', 'hi_v')} AS r1
      FROM eligible CROSS JOIN bounds
    ),
    cells AS (SELECT r0, {interleave} AS z FROM ranked)
    SELECT CAST(COUNT(DISTINCT z) AS BIGINT) AS total_cells,
           CAST(COUNT(DISTINCT CASE WHEN r0 < {n // 4} THEN z END)
                AS BIGINT) AS touched_cells
    FROM cells
    """


@register("zorder_locality_accounting", oracle=_zorder_oracle())
def zorder_locality_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve (Z-order) locality, hash-verified: assign every
    eligible event to a 16x16 Z-cell over (user_id, value) using the
    pure-codegen expression ``operators/layout.zorder_key``, then
    account how many distinct cells a one-dimensional predicate (lowest
    quarter of the user_id range) touches versus the total. The oracle
    replays every stage — bounds, rank arithmetic, clamp, bit
    interleave — so the Morton-key math is engine-reproducible, not
    just test-asserted (file counts are partitioner-dependent and would
    not hash across sessions, so the accounting is over LOGICAL cells).
    A predicate on either interleaved column maps to ~1/4 of the
    curve's cells here. NULL/non-finite rows are excluded from the
    accounting on both engines (``zorder_key`` itself ranks them 0)."""
    from ..operators.layout import zorder_key

    n = 1 << _Z_BITS
    events = load_table(spark, sf_dir, "events")
    eligible = events.filter(
        F.col("user_id").isNotNull() & finite_metric("value")
    ).select(
        F.col("user_id").cast("double").alias("u"),
        F.col("value").cast("double").alias("v"),
    )
    z = zorder_key(eligible, ["u", "v"], bits=_Z_BITS)
    # r0 (the user_id rank) recovered by DE-interleaving z's even bit
    # positions (column 0's bit b sits at position 2b) — the interleave
    # is bijective, so this is exactly the rank zorder_key computed,
    # with no second bounds scan and no copied clamp chain
    cells = eligible.select(z.alias("z"))
    r0 = F.lit(0).cast("long")
    for b in range(_Z_BITS):
        r0 = r0 + F.shiftleft(
            F.shiftright(F.col("z"), 2 * b).bitwiseAND(F.lit(1)), b
        )
    cells = cells.select(r0.alias("r0"), F.col("z"))
    return cells.agg(
        F.count_distinct(F.col("z")).cast("bigint").alias("total_cells"),
        F.count_distinct(
            F.when(F.col("r0") < n // 4, F.col("z"))
        )
        .cast("bigint")
        .alias("touched_cells"),
    )


# --- small-files compaction accounting (layout maintenance, driver-visible) --
# PRECONDITION for the pinned 64/4 literals (ADVICE r6): the replayed
# dataset's orders table must have >= 64 rows (an empty repartition
# task writes NO file, so files_before would come up short) and >= 4
# distinct o_orderkey values (range shuffle needs 4 non-empty buckets).
# Every current fixture satisfies this by orders of magnitude (sf0.001
# has ~1,500 orders; the edge fixture keeps the full orders table); a
# future tinier fixture would hash-fail here with a count mismatch —
# that failure means REVISIT THESE LITERALS, not the compaction code.
@register(
    "compaction_file_accounting",
    oracle="""
    SELECT CAST(64 AS BIGINT) AS files_before,
           CAST(4 AS BIGINT) AS files_after,
           TRUE AS ranges_disjoint,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    """,
)
def compaction_file_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILES COMPACTION made driver-visible (the
    bucketed_join_rollup pattern: pin the layout facts as hash-checked
    values, prove byte-fidelity with a data rollup): orders is
    deliberately fragmented into 64 files (one per explicit shuffle
    partition — what per-trigger streaming appends produce), then
    ``operators/layout.compact`` rewrites it into 4 range-clustered
    files on o_orderkey. The oracle pins BOTH file counts, pins that
    the 4 files' o_orderkey ranges are pairwise DISJOINT (the property
    that keeps footer min/max pruning selective after the rewrite —
    ``coalesce()`` would destroy it), and checks the compacted copy's
    row count + DECIMAL revenue against the source table, so a rewrite
    that drops or duplicates rows hash-fails.

    At 100 TB compaction is the periodic maintenance job that keeps
    listing+open() overhead off every scan: ONE range shuffle sized by
    target_files, no driver involvement in the data path. The
    driver-side work here is O(files_after) bounding boxes + a 1-row
    aggregate; both survive the TemporaryDirectory because they are
    collected before it exits (bounded: 4 rows + 1 row)."""
    import os
    import tempfile

    from ..operators.layout import compact, file_bounding_boxes

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    with tempfile.TemporaryDirectory() as tmp:
        frag = os.path.join(tmp, "fragmented")
        dest = os.path.join(tmp, "compacted")
        orders.repartition(64).write.mode("overwrite").parquet(frag)
        n_before, n_after = compact(
            spark, frag, dest, target_files=4, sort_cols=["o_orderkey"]
        )
        boxes = sorted(
            (r["min_o_orderkey"], r["max_o_orderkey"])
            for r in file_bounding_boxes(
                spark, dest, ["o_orderkey"]
            ).collect()
            if r["min_o_orderkey"] is not None
        )
        disjoint = all(
            boxes[i][1] < boxes[i + 1][0] for i in range(len(boxes) - 1)
        )
        row = (
            read_parquet(spark, dest)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
                )
                .cast("double")
                .alias("total_price"),
            )
            .first()
        )
    return local_df(
        spark,
        [(int(n_before), int(n_after), bool(disjoint),
          int(row["n_rows"]), row["total_price"])],
        "files_before bigint, files_after bigint, ranges_disjoint boolean,"
        " n_rows bigint, total_price double",
    )
