"""General engine surface over the TPC-H-ish star testdata.

The reference's own query program needs only one join, two aggregates
and two windows (SURVEY.md §2) — but the north star is a general
engine, so the inventory declares the full relational surface
"for free" through DataFrame primitives: all join types, set ops,
grouping sets, window analytics, global top-k, JSON access, and the
classic multi-agg scan shapes.

Float determinism contract: any SUM over a double measure is computed
on an exact DECIMAL cast of the per-row expression, then converted
back to double — the result is bit-identical regardless of partition
count, AQE decisions, or engine (Spark vs the DuckDB oracle). Plain
double sums would be order-dependent and unhashable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.windows import ranked_desc, top_k_per_group
from ..sources.readers import read_events, read_table


def _dec(col, scale: int = 4):
    """Exact-sum helper: cast a per-row double expression to DECIMAL
    so the aggregate is order-independent."""
    return col.cast(f"decimal(28,{scale})")


# --- A: multi-aggregate scan (TPC-H Q1 shape) ----------------------------


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape with decimal-EXACT arithmetic.

    The measures are 2-decimal business values stored as doubles. Each
    *input* is cast to DECIMAL(10,2) first (exact: a double that is a
    2-decimal value is never a round-half tie at scale 2), then all
    derived expressions are exact decimal multiplies — scale grows
    2→4→6 and precision stays under 38, so neither Spark nor the
    DuckDB oracle ever rounds a per-row value. Per-row rounding was
    round-1's one genuine divergence: Spark rounds double→decimal
    half-up, DuckDB half-even, and the drift accumulated over ~20k
    rows (VERDICT r1 "What's wrong" §2).
    """
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    one = F.lit("1").cast("decimal(3,2)")
    ep = F.col("l_extendedprice").cast("decimal(10,2)")
    disc = F.col("l_discount").cast("decimal(10,2)")
    tax = F.col("l_tax").cast("decimal(10,2)")
    qty = F.col("l_quantity").cast("decimal(10,2)")
    disc_price = ep * (one - disc)          # exact, scale 4
    charge = disc_price * (one + tax)       # exact, scale 6
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(ep).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(ep).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
WITH d AS (
    SELECT l_returnflag, l_linestatus,
           CAST(l_quantity AS DECIMAL(10,2))      AS qty,
           CAST(l_extendedprice AS DECIMAL(10,2)) AS ep,
           CAST(l_discount AS DECIMAL(10,2))      AS disc,
           CAST(l_tax AS DECIMAL(10,2))           AS tax
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(qty) AS DOUBLE) AS sum_qty,
       CAST(SUM(ep) AS DOUBLE)  AS sum_base_price,
       CAST(SUM(ep * (CAST(1 AS DECIMAL(3,2)) - disc)) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(ep * (CAST(1 AS DECIMAL(3,2)) - disc) * (CAST(1 AS DECIMAL(3,2)) + tax)) AS DOUBLE) AS sum_charge,
       CAST(SUM(qty) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(ep) AS DOUBLE) / COUNT(*)  AS avg_price,
       COUNT(*) AS count_order
FROM d
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- J: join gallery ------------------------------------------------------


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + global top-10 (deterministic
    tie-break on o_orderkey)."""
    cust = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "inner")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1-l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join (small dims broadcast), agg per
    nation."""
    region = read_table(spark, sf_dir, "region")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


NATION_REVENUE_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1-l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def customers_with_events_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS) — customers that appear in the events
    fact (non-trivial on the testdata: events covers 1/10 of custkeys)."""
    cust = read_table(spark, sf_dir, "customer")
    events = read_events(spark, sf_dir)
    return (
        cust.join(events, cust.c_custkey == events.user_id, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_SEMI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
ORDER BY c_custkey
"""


def customers_without_events_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS)."""
    cust = read_table(spark, sf_dir, "customer")
    events = read_events(spark, sf_dir)
    return (
        cust.join(events, cust.c_custkey == events.user_id, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
ORDER BY c_custkey
"""


# --- set operations -------------------------------------------------------


def active_user_ids_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two id sets."""
    buyers = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    eventers = read_events(spark, sf_dir).select(F.col("user_id").alias("id"))
    return buyers.union(eventers).distinct()


UNION_SQL = """
SELECT o_custkey AS id FROM orders
UNION
SELECT user_id AS id FROM events
ORDER BY id
"""


def buyer_eventer_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    buyers = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    eventers = read_events(spark, sf_dir).select(F.col("user_id").alias("id"))
    return buyers.intersect(eventers)


INTERSECT_SQL = """
SELECT o_custkey AS id FROM orders
INTERSECT
SELECT user_id AS id FROM events
ORDER BY id
"""


def buyers_not_eventers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    buyers = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    eventers = read_events(spark, sf_dir).select(F.col("user_id").alias("id"))
    # subtract == SQL EXCEPT (set semantics, distinct result)
    return buyers.subtract(eventers)


EXCEPT_SQL = """
SELECT o_custkey AS id FROM orders
EXCEPT
SELECT user_id AS id FROM events
ORDER BY id
"""


# --- grouping sets --------------------------------------------------------


def returnflag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (grouping sets) with an exact decimal sum."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
        )
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def returnflag_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


# --- window analytics -----------------------------------------------------


def customer_order_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + running frame aggregate per customer, fully
    deterministic ordering (orderdate, orderkey)."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = _dec(F.col("o_totalprice"), 2)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").alias("price"),
        F.lag(price).over(w).cast("double").alias("prev_price"),
        F.lead(price).over(w).cast("double").alias("next_price"),
        F.sum(price)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


CUSTOMER_ORDER_DELTAS_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       o_totalprice AS price,
       CAST(LAG(CAST(o_totalprice AS DECIMAL(28,2))) OVER w AS DOUBLE)  AS prev_price,
       CAST(LEAD(CAST(o_totalprice AS DECIMAL(28,2))) OVER w AS DOUBLE) AS next_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS order_seq
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def top_orders_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (TopK via takeOrdered physically)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


TOP_ORDERS_GLOBAL_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 25
"""


# --- JSON + scalar functions ---------------------------------------------


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON access over the events.props string column (engine surface
    the reference lacks; SURVEY.md §2.7 extension)."""
    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def part_scalar_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/conditional scalar-function surface in one projection."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower(F.col("p_type")).alias("type_lower"),
        F.upper(F.col("p_brand")).alias("brand_upper"),
        F.length(F.col("p_name")).cast("int").alias("name_len"),
        F.substring(F.col("p_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.when(F.col("p_size") >= 25, F.lit("large"))
        .otherwise(F.lit("small"))
        .alias("size_class"),
        F.round(F.col("p_retailprice"), 1).alias("price_rounded"),
    )


PART_SCALAR_SQL = """
SELECT p_partkey,
       LOWER(p_type)  AS type_lower,
       UPPER(p_brand) AS brand_upper,
       CAST(LENGTH(p_name) AS INTEGER) AS name_len,
       SUBSTRING(p_name, 1, 8) AS name_prefix,
       CONCAT_WS('/', p_brand, p_type) AS brand_type,
       CASE WHEN p_size >= 25 THEN 'large' ELSE 'small' END AS size_class,
       ROUND(p_retailprice, 1) AS price_rounded
FROM part
ORDER BY p_partkey
"""


def order_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar surface: year/month/day/dayofweek extraction."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("dom"),
        )
        .groupBy("yr", "mo")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.max("dom").alias("max_dom"))
    )


ORDER_DATE_PARTS_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER)  AS yr,
       CAST(month(o_orderdate) AS INTEGER) AS mo,
       COUNT(*) AS n_orders,
       CAST(MAX(dayofmonth(o_orderdate)) AS INTEGER) AS max_dom
FROM orders
GROUP BY 1, 2
ORDER BY yr, mo
"""


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional trade volume between two nations
    by ship year. The two big facts (lineitem ⋈ orders) shuffle on the
    orderkey; both nation-resolution joins broadcast; the nation-pair
    filter is pushed into the broadcast sides so mismatched rows die
    at the join, not in a post-filter."""
    n1, n2 = "NATION_1", "NATION_2"
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(n1, n2)
    )
    supp = read_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("s_nk"),
                                  F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nk"),
    )
    cust = read_table(spark, sf_dir, "customer").join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("c_nk"),
                                  F.col("n_name").alias("cust_nation"))),
        F.col("c_nationkey") == F.col("c_nk"),
    )
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    volume = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp.select("s_suppkey", "supp_nation")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(cust.select("c_custkey", "cust_nation")),
              orders.o_custkey == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(volume).cast("double").alias("revenue"))
    )


VOLUME_SHIPPING_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation,
         nc.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  WHERE ns.n_name IN ('NATION_1', 'NATION_2')
    AND nc.n_name IN ('NATION_1', 'NATION_2')
    AND ns.n_name != nc.n_name
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one quarter — fact-fact join on orderkey, dims broadcast, top-20
    by a TakeOrdered cut (no global sort materialization)."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


TOP_RETURN_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1-l_discount) AS DECIMAL(28,4)))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / contribution analysis: per-nation revenue share and
    cumulative share in descending order. The un-partitioned window
    here is SAFE by construction — it runs over the already-aggregated
    nation frame, whose row count is bounded by the dimension
    cardinality (25), not the fact table; the fact-side work is one
    keyed aggregate."""
    from pyspark.sql import Window

    nation = read_table(spark, sf_dir, "nation")
    supp = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    revenue = _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_nation = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("rev_dec"))
    )
    w = Window.orderBy(F.desc("rev_dec"), "n_name").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_nation.select(
        "n_name",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.round(
            (F.col("rev_dec") / F.sum("rev_dec").over(total)).cast("double"), 6
        ).alias("share"),
        F.round(
            (F.sum("rev_dec").over(w) / F.sum("rev_dec").over(total)).cast(
                "double"
            ),
            6,
        ).alias("cum_share"),
    )


NATION_REVENUE_PARETO_SQL = """
WITH per AS (
  SELECT n_name,
         SUM(CAST(l_extendedprice * (1-l_discount) AS DECIMAL(28,4))) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name
)
SELECT n_name,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(CAST(rev / SUM(rev) OVER () AS DOUBLE), 6) AS share,
       ROUND(CAST(SUM(rev) OVER (ORDER BY rev DESC, n_name
                                 ROWS UNBOUNDED PRECEDING)
                  / SUM(rev) OVER () AS DOUBLE), 6) AS cum_share
FROM per
ORDER BY revenue DESC, n_name
"""


def lineitem_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (winsorized) price statistics per return flag — the
    outlier-resistant profile a pricing-anomaly monitor consumes.
    Two passes over the fact table: exact p05/p95 per group
    (``percentile``, linear interpolation — same definition as
    DuckDB's ``quantile_cont``), broadcast back, then one clamped
    aggregate. Thresholds are ROUNDED to cents before clamping so the
    clamped values stay on the 2-decimal price grid — that keeps the
    winsorized sum exact under the decimal-sum contract and makes the
    cross-engine threshold comparison robust to interpolation ULPs.
    Scale: percentile table is |groups| rows (broadcast); the fact
    table shuffles once for each aggregate, never sorts globally.

    r12 rework (banked r11): the threshold pass was a native grouped
    ``percentile()`` — the few-groups holistic trap (3 returnflag
    reducers buffer the whole fact table; the class measured exponent
    1.37 at 100× on order_price_percentiles). Thresholds now come
    from operators/percentiles.py::group_percentiles_exact
    (distributed selection, bit-identical interpolation, then the
    same cents rounding — oracle hash unchanged), pivoted long→wide.

    ALL-NULL-GROUP CONTRACT (ADVICE r12, latent — l_extendedprice is
    never null in any fixture): group_percentiles_exact emits NO row
    for a group whose values are all NULL, so the threshold inner
    join drops such a group's rows entirely, where the old native
    grouped ``percentile()`` kept them with NULL thresholds (clamping
    to NULL → NULL stats row). A deployment that must preserve the
    old behavior should left-join the threshold table and pass the
    unclamped values through; the two engines here agree because the
    oracle inner-joins the same way."""
    from ..operators.percentiles import group_percentiles_exact

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    pe = group_percentiles_exact(
        li, "l_returnflag", "l_extendedprice", [0.05, 0.95]
    )
    pct = pe.groupBy("l_returnflag").agg(
        F.round(F.max(F.when(F.col("p") == 0.05, F.col("pct"))), 2).alias("p05"),
        F.round(F.max(F.when(F.col("p") == 0.95, F.col("pct"))), 2).alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95")
    )
    return (
        li.join(F.broadcast(pct), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.first("p05"), 2).alias("p05"),
            F.round(F.first("p95"), 2).alias("p95"),
            F.round(
                F.sum(_dec(F.col("l_extendedprice"))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_price"),
            F.round(
                F.sum(_dec(clamped)).cast("double") / F.count(F.lit(1)), 6
            ).alias("winsorized_mean_price"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("p05"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped_low"),
            F.sum(
                F.when(F.col("l_extendedprice") > F.col("p95"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped_high"),
        )
    )


LINEITEM_WINSORIZED_SQL = """
WITH pct AS (
  SELECT l_returnflag,
         ROUND(quantile_cont(l_extendedprice, 0.05), 2) AS p05,
         ROUND(quantile_cont(l_extendedprice, 0.95), 2) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT li.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(ANY_VALUE(p05), 2) AS p05,
       ROUND(ANY_VALUE(p95), 2) AS p95,
       ROUND(CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
             / COUNT(*), 6) AS mean_price,
       ROUND(CAST(SUM(CAST(LEAST(GREATEST(li.l_extendedprice, p05), p95)
                           AS DECIMAL(28,4))) AS DOUBLE)
             / COUNT(*), 6) AS winsorized_mean_price,
       CAST(SUM(CASE WHEN li.l_extendedprice < p05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_low,
       CAST(SUM(CASE WHEN li.l_extendedprice > p95 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_high
FROM lineitem li JOIN pct USING (l_returnflag)
GROUP BY li.l_returnflag
ORDER BY li.l_returnflag
"""


QUERIES = {
    "volume_shipping": volume_shipping,
    "lineitem_winsorized_stats": lineitem_winsorized_stats,
    "top_return_customers": top_return_customers,
    "nation_revenue_pareto": nation_revenue_pareto,
    "pricing_summary": pricing_summary,
    "shipping_priority": shipping_priority,
    "nation_revenue": nation_revenue,
    "customers_with_events_semi": customers_with_events_semi,
    "customers_without_events_anti": customers_without_events_anti,
    "active_user_ids_union": active_user_ids_union,
    "buyer_eventer_intersect": buyer_eventer_intersect,
    "buyers_not_eventers_except": buyers_not_eventers_except,
    "returnflag_rollup": returnflag_rollup,
    "returnflag_cube": returnflag_cube,
    "customer_order_deltas": customer_order_deltas,
    "top_orders_global": top_orders_global,
    "events_json_extract": events_json_extract,
    "part_scalar_showcase": part_scalar_showcase,
    "order_date_parts": order_date_parts,
}

ORACLE = {
    "top_return_customers": TOP_RETURN_CUSTOMERS_SQL,
    "lineitem_winsorized_stats": LINEITEM_WINSORIZED_SQL,
    "nation_revenue_pareto": NATION_REVENUE_PARETO_SQL,
    "volume_shipping": VOLUME_SHIPPING_SQL,
    "pricing_summary": PRICING_SUMMARY_SQL,
    "shipping_priority": SHIPPING_PRIORITY_SQL,
    "nation_revenue": NATION_REVENUE_SQL,
    "customers_with_events_semi": CUSTOMERS_SEMI_SQL,
    "customers_without_events_anti": CUSTOMERS_ANTI_SQL,
    "active_user_ids_union": UNION_SQL,
    "buyer_eventer_intersect": INTERSECT_SQL,
    "buyers_not_eventers_except": EXCEPT_SQL,
    "returnflag_rollup": ROLLUP_SQL,
    "returnflag_cube": CUBE_SQL,
    "customer_order_deltas": CUSTOMER_ORDER_DELTAS_SQL,
    "top_orders_global": TOP_ORDERS_GLOBAL_SQL,
    "events_json_extract": EVENTS_JSON_SQL,
    "part_scalar_showcase": PART_SCALAR_SQL,
    "order_date_parts": ORDER_DATE_PARTS_SQL,
}
