"""TPC-H-topology queries over lineitem, orders, customer, part,
supplier, nation and region."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table


PRICING_CUTOFF = "1998-09-02 00:00:00"  # Q1's DATE '1998-12-01' - 90 days


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over the relational fixture
    tables (the first registry query to exercise them): per
    (returnflag, linestatus) for lines shipped by the cutoff — line
    count, total quantity, base price, discounted price, and charge,
    plus floored averages.  Money stays exact int64: cents =
    floor(price*100), disc/tax as integer percents, so the discounted
    amount is cents*(100-d) (cent-percent units) and the charge
    cents*(100-d)*(100+t) (cent-percent^2) — identical IEEE
    floor(x*100) on both engines, no float accumulation anywhere.

    Scale shape: the cutoff predicate pushes into the parquet scan
    (PushedFilters — plan-pinned), the aggregate is ONE map-side-
    combinable groupBy on a 2x2-value key, and averages derive from
    the sums (no second pass).  Charge is ~2*10^13 cent-percent^2 per
    max-price line, so the int64 sum holds through ~4*10^5 max-price
    lines per group at fixture prices and ~10^9 at typical ones —
    past that, pre-aggregate per day partition before combining (the
    q_late_arrival overflow discipline)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        f"l_shipdate <= TIMESTAMP '{PRICING_CUTOFF}'"
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("c"),
        F.expr("CAST(floor(l_discount * 100) AS BIGINT)").alias("d"),
        F.expr("CAST(floor(l_tax * 100) AS BIGINT)").alias("t"),
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("long").alias("count_order"),
        F.sum("qty").cast("long").alias("sum_qty"),
        F.sum("c").cast("long").alias("sum_base_c"),
        F.sum(F.expr("c * (100 - d)")).cast("long").alias("sum_disc_cp"),
        F.sum(F.expr("c * (100 - d) * (100 + t)"))
        .cast("long")
        .alias("sum_charge_cp2"),
        F.expr("sum(qty) DIV count(*)").cast("long").alias("avg_qty"),
        F.expr("sum(c) DIV count(*)").cast("long").alias("avg_price_c"),
        F.expr("sum(d) DIV count(*)").cast("long").alias("avg_disc_pct"),
    )


_PRICING_SUMMARY = f"""
WITH l AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_quantity) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
         CAST(floor(l_discount * 100) AS BIGINT) AS d,
         CAST(floor(l_tax * 100) AS BIGINT) AS t
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '{PRICING_CUTOFF}'
)
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS count_order,
       CAST(sum(qty) AS BIGINT) AS sum_qty,
       CAST(sum(c) AS BIGINT) AS sum_base_c,
       CAST(sum(c * (100 - d)) AS BIGINT) AS sum_disc_cp,
       CAST(sum(c * (100 - d) * (100 + t)) AS BIGINT) AS sum_charge_cp2,
       CAST(sum(qty) // count(*) AS BIGINT) AS avg_qty,
       CAST(sum(c) // count(*) AS BIGINT) AS avg_price_c,
       CAST(sum(d) // count(*) AS BIGINT) AS avg_disc_pct
FROM l GROUP BY 1, 2
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-topology star join: revenue by region and order year
    where the supplier sits in the customer's nation — the classic
    local-supply-chain readout, and the registry's showcase for
    broadcast-dimension join strategy on REAL dimension tables
    (region 5 rows, nation 25, supplier small: all broadcast; the
    two corpus-sized joins — orders-customer on custkey and
    lineitem-orders on orderkey — shuffle on 8-byte keys).  Revenue
    is exact int64 cent-percent units (cents*(100-discount)), the
    q_pricing_summary money discipline.

    Scale shape: dims broadcast below the fact joins so Catalyst
    prunes columns into every scan; the same-nation predicate rides
    the supplier join condition (no post-join filter); ONE final
    map-side-combinable groupBy on (region, year)."""
    t = lambda n: load_table(spark, sf_dir, n)  # noqa: E731
    nr = (
        t("nation")
        .join(
            F.broadcast(t("region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "r_name")
    )
    cust = t("customer").join(
        F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("c_nationkey").alias("cnat"), "r_name")
    sup = t("supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("snat")
    )
    ord_ = t("orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias(
            "o_year"
        )
    )
    li = t("lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
        ).alias("rev_cp"),
    )
    j = (
        ord_.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(sup),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("cnat") == F.col("snat")),
        )
    )
    return j.groupBy("r_name", "o_year").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
    )


_REGION_REVENUE = """
SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


SHIP_PRIORITY_SEGMENT = "BUILDING"
SHIP_PRIORITY_CUTOFF = "1998-06-01 00:00:00"


def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-topology shipping-priority top-k: the 10 highest-
    revenue orders still open at the cutoff (ordered before it, with
    lines shipping after it) for one market segment.  Revenue is the
    exact int64 cent-percent unit (q_pricing_summary discipline);
    the order date lands as an epoch DAY integer (floor(epoch) DIV
    86400 — the documented cross-engine timestamp form).

    Scale shape: the segment never leaves the build side — orders
    LEFT SEMI join the filtered customer keys (no customer column is
    emitted, so the probe rows stay narrow; at 100 TB the 1/5-segment
    customer table is NOT broadcastable and this is a shuffle semi
    join on the 8-byte custkey), lineitem joins the surviving orders
    on the 8-byte orderkey, ONE map-side-combinable groupBy per
    order, and the top 10 rides TakeOrderedAndProject (never a
    global sort) with the unique orderkey as the deterministic
    tie-break.  Date predicates on both fact scans push into parquet
    (PushedFilters plan-pinned)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == SHIP_PRIORITY_SEGMENT)
        .select("c_custkey")
    )
    ord_ = (
        load_table(spark, sf_dir, "orders")
        .where(f"o_orderdate < TIMESTAMP '{SHIP_PRIORITY_CUTOFF}'")
        .select(
            "o_orderkey",
            "o_custkey",
            F.expr(
                "CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT)"
                " DIV 86400"
            ).alias("o_day"),
            "o_orderpriority",
        )
        .join(
            cust,
            F.col("o_custkey") == F.col("c_custkey"),
            "left_semi",
        )
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(f"l_shipdate > TIMESTAMP '{SHIP_PRIORITY_CUTOFF}'")
        .select(
            "l_orderkey",
            F.expr(
                "CAST(floor(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
            ).alias("rev_cp"),
        )
    )
    agg = (
        li.join(ord_, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_day", "o_orderpriority")
        .agg(F.sum("rev_cp").cast("long").alias("revenue_cp"))
    )
    return agg.orderBy(
        F.col("revenue_cp").desc(), F.col("o_orderkey").asc()
    ).limit(10)


_SHIP_PRIORITY = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS o_day,
         o_orderpriority
  FROM orders
  WHERE o_orderdate < TIMESTAMP '{SHIP_PRIORITY_CUTOFF}'
    AND o_custkey IN (SELECT c_custkey FROM customer
                      WHERE c_mktsegment = '{SHIP_PRIORITY_SEGMENT}')
)
SELECT o_orderkey, o_day, o_orderpriority,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM lineitem JOIN o ON l_orderkey = o_orderkey
WHERE l_shipdate > TIMESTAMP '{SHIP_PRIORITY_CUTOFF}'
GROUP BY 1, 2, 3
ORDER BY revenue_cp DESC, o_orderkey ASC
LIMIT 10
"""

ORDER_DIST_PRIORITY = "1-URGENT"
ORDER_DIST_START = "1999-01-01 00:00:00"
ORDER_DIST_END = "2000-01-01 00:00:00"  # exclusive


def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-topology customer order-count distribution: how many
    customers placed exactly k qualifying orders (urgent priority
    within one year), INCLUDING the zero-order customers — the
    histogram behind engagement/churn cuts, and the registry's
    outer-join aggregate representative (the zero bucket only exists
    because the join is outer; an inner join silently drops it).

    Scale shape: orders collapse to (custkey, n) in ONE map-side-
    combinable groupBy FIRST, then the narrow count table LEFT-joins
    onto the customer key list (aggregate-then-join — the raw orders
    never ride the outer join, so the shuffle carries 16-byte rows
    instead of full order tuples); missing matches coalesce to 0 and
    the final histogram groupBy runs on <= |distinct counts| values.
    Both shuffles key on the 8-byte custkey."""
    oc = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == ORDER_DIST_PRIORITY)
            & (F.col("o_orderdate") >= F.lit(ORDER_DIST_START).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(ORDER_DIST_END).cast("timestamp"))
        )
        .groupBy("o_custkey")
        .agg(F.count("*").cast("long").alias("n"))
    )
    per_cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(oc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("long").alias("custdist")
    )


_ORDER_COUNT_DIST = f"""
WITH oc AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
  FROM orders
  WHERE o_orderpriority = '{ORDER_DIST_PRIORITY}'
    AND o_orderdate >= TIMESTAMP '{ORDER_DIST_START}'
    AND o_orderdate < TIMESTAMP '{ORDER_DIST_END}'
  GROUP BY 1
)
SELECT CAST(coalesce(n, 0) AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM customer LEFT JOIN oc ON c_custkey = o_custkey
GROUP BY 1
"""

BIG_ORDER_MIN_QTY = 200  # sum(l_quantity) HAVING bound (fixture avg ~103)


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-topology large-volume orders: every order whose total
    line quantity exceeds BIG_ORDER_MIN_QTY, joined back to its order
    row and customer — the HAVING-then-join-back representative
    (aggregate first, decorate the few survivors after).  Money is
    exact cents (floor(o_totalprice*100)); the order date is the
    epoch-day integer.

    Scale shape: the quantity sum is ONE map-side-combinable groupBy
    on the 8-byte orderkey and the HAVING filter drops ~80% of groups
    BEFORE any join; the survivors join orders on orderkey and
    customer on custkey (both 8-byte-key shuffles; AQE may broadcast
    the filtered side at small SF — either plan is right, the
    filter-before-join is the invariant)."""
    s = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("qty").cast("long").alias("sum_qty"))
        .where(F.col("sum_qty") > BIG_ORDER_MIN_QTY)
    )
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.expr(
            "CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("o_day"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
            "total_c"
        ),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        s.join(ord_, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("c_custkey").cast("long").alias("c_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            "o_day",
            "total_c",
            "sum_qty",
        )
    )


_BIG_ORDERS = f"""
WITH s AS (
  SELECT l_orderkey, CAST(sum(CAST(floor(l_quantity) AS BIGINT))
                          AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(floor(l_quantity) AS BIGINT)) > {BIG_ORDER_MIN_QTY}
)
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS o_day,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS total_c,
       sum_qty
FROM s JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


PROMO_PART_TYPE = "PROMO"


def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-topology promotion-revenue share: per order month,
    the permille of line revenue attributable to PROMO-type parts —
    the campaign-effect readout, and the registry's conditional-
    aggregate-over-a-join representative.  All integers: revenue in
    cent-percent units, share = promo*1000 DIV total (exact while
    promo < 2^53 cent-percent per month ~ 10^9 dollars/month;
    pre-aggregate per day partition past that — the q_pricing_summary
    budget discipline).

    Scale shape: lineitem needs only the part's TYPE, so the join
    ships a projected (partkey, is_promo) table — two 8-byte-ish
    columns, broadcastable far beyond the raw part table's budget (at
    100 TB part is ~1/7 of lineitem by rows but the projection is
    ~1/40 by bytes; past the broadcast budget the same plan shuffles
    on the 8-byte partkey).  The conditional sum folds in the SAME
    map-side-combinable groupBy as the total — one pass, one
    exchange on the tiny month key."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_type") == PROMO_PART_TYPE).cast("long").alias("is_promo"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(date_format(l_shipdate, 'yyyyMM') AS BIGINT)"
        ).alias("ship_month"),
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
        ).alias("rev_cp"),
    )
    j = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    return (
        j.groupBy("ship_month")
        .agg(
            F.sum(F.expr("rev_cp * is_promo")).cast("long").alias(
                "promo_rev_cp"
            ),
            F.sum("rev_cp").cast("long").alias("total_rev_cp"),
        )
        .select(
            "ship_month",
            "promo_rev_cp",
            "total_rev_cp",
            F.expr("promo_rev_cp * 1000 DIV total_rev_cp").alias(
                "promo_permille"
            ),
        )
    )


_PROMO_SHARE = f"""
WITH j AS (
  SELECT CAST(strftime(l_shipdate, '%Y%m') AS BIGINT) AS ship_month,
         CAST(floor(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(floor(l_discount * 100) AS BIGINT)) AS rev_cp,
         CASE WHEN p_type = '{PROMO_PART_TYPE}' THEN 1 ELSE 0 END AS is_promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
), m AS (
  SELECT ship_month,
         CAST(sum(rev_cp * is_promo) AS BIGINT) AS promo_rev_cp,
         CAST(sum(rev_cp) AS BIGINT) AS total_rev_cp
  FROM j GROUP BY 1
)
SELECT ship_month, promo_rev_cp, total_rev_cp,
       CAST(promo_rev_cp * 1000 // total_rev_cp AS BIGINT)
         AS promo_permille
FROM m
"""

RETURNED_REV_START = "1999-01-01 00:00:00"
RETURNED_REV_END = "1999-07-01 00:00:00"  # exclusive


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-topology returned-item reporting: the 20 customers
    who lost the most revenue to returned lines ('R') on orders
    placed in one half-year window, decorated with their nation —
    the churn-risk escalation list.

    Scale shape: the order-date predicate pushes into the orders
    scan and the returnflag predicate into the lineitem scan
    (PushedFilters both); the orders-lineitem join shuffles on the
    8-byte orderkey with BOTH sides pre-filtered; revenue collapses
    per custkey in ONE map-side-combinable groupBy BEFORE the
    customer join (aggregate-then-decorate — the q_big_orders
    discipline), nation broadcasts, and the top 20 rides
    TakeOrderedAndProject with the unique custkey tie-break."""
    ord_ = (
        load_table(spark, sf_dir, "orders")
        .where(
            f"o_orderdate >= TIMESTAMP '{RETURNED_REV_START}' AND "
            f"o_orderdate < TIMESTAMP '{RETURNED_REV_END}'"
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            F.expr(
                "CAST(floor(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
            ).alias("rev_cp"),
        )
    )
    per_cust = (
        li.join(ord_, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_returned_lines"),
            F.sum("rev_cp").cast("long").alias("lost_rev_cp"),
        )
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        per_cust.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(nat),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            "n_name",
            "n_returned_lines",
            "lost_rev_cp",
        )
        .orderBy(F.col("lost_rev_cp").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


_RETURNED_REVENUE = f"""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_returned_lines,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS lost_rev_cp
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '{RETURNED_REV_START}'
    AND o_orderdate < TIMESTAMP '{RETURNED_REV_END}'
  GROUP BY 1
)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name,
       n_returned_lines, lost_rev_cp
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY lost_rev_cp DESC, c_custkey ASC
LIMIT 20
"""

# (brand, max size, min qty, max qty) disjunctive brackets — Q19 shape
BRACKETS = (
    ("Brand#12", 5, 1, 11),
    ("Brand#3", 10, 10, 20),
    ("Brand#17", 15, 20, 30),
)


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-topology bracket filter: revenue from lines whose
    (part brand, part size, line quantity) fall into one of three
    disjunctive brackets — the representative for OR-of-ANDs
    predicates spanning a join.

    Scale shape: the part-side half of every bracket (brand + size)
    filters part BEFORE the join, shrinking it to the brackets'
    union (~3 brands x bounded sizes — comfortably broadcastable at
    any corpus scale; the explicit F.broadcast pins the plan), and
    the quantity half evaluates post-join against the matched
    bracket's bounds carried on the build row.  One row out: a
    count + exact cent-percent revenue.  Never a cartesian; the
    probe side ships only (partkey, qty, rev)."""
    conds_p = None
    for brand, max_size, _, _ in BRACKETS:
        c = (F.col("p_brand") == brand) & (F.col("p_size") <= max_size)
        conds_p = c if conds_p is None else (conds_p | c)
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_size") >= 1) & conds_p)
        .select("p_partkey", "p_brand", "p_size")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
        ).alias("rev_cp"),
    )
    j = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    conds_q = None
    for brand, max_size, min_q, max_q in BRACKETS:
        c = (
            (F.col("p_brand") == brand)
            & (F.col("p_size") <= max_size)
            & (F.col("qty") >= min_q)
            & (F.col("qty") <= max_q)
        )
        conds_q = c if conds_q is None else (conds_q | c)
    return j.where(conds_q).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
    )


def _bracket_sql() -> str:
    ors = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s}"
        f" AND CAST(floor(l_quantity) AS BIGINT) BETWEEN {lo} AND {hi})"
        for b, s, lo, hi in BRACKETS
    )
    return f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {ors}
"""


_BRACKET_REVENUE = _bracket_sql()


SMALL_QTY_BRAND = "Brand#17"


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-topology decorrelated scalar subquery: revenue locked
    up in small-quantity orders of one brand's parts — lines whose
    quantity is below 20% of that part's average order quantity.  The
    correlated `< 0.2 * avg(qty) WHERE same part` subquery
    decorrelates into a per-part aggregate JOINED back, and the
    fractional threshold stays exact-integer: qty < sum/(5*count)
    rewrites to 5*qty*count < sum (no division, no float — both
    engines agree bit-for-bit).

    Scale shape: the brand filter lands on part FIRST and broadcasts
    (pinned), so BOTH the per-part average and the probe read only
    the brand's lines; the per-part aggregate is ONE map-side-
    combinable groupBy on the 8-byte partkey and joins back to the
    same filtered stream (self-join on partkey — at 100 TB both
    sides are brand-pruned, ~1/25 of lineitem).  Single row out:
    count + exact cent revenue (and cents DIV 7 — Q17's
    avg-yearly convention, truncated)."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == SMALL_QTY_BRAND)
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
        )
        .select(
            "l_partkey",
            F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
            F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias(
                "c"
            ),
        )
    )
    stats = li.groupBy(F.col("l_partkey").alias("sp")).agg(
        F.sum("qty").cast("long").alias("sum_qty"),
        F.count("*").cast("long").alias("n_lines"),
    )
    j = li.join(stats, F.col("l_partkey") == F.col("sp")).where(
        F.expr("5 * qty * n_lines < sum_qty")
    )
    return j.agg(
        F.count("*").cast("long").alias("n_small_lines"),
        F.expr("coalesce(sum(c), 0)").cast("long").alias("revenue_c"),
        F.expr("coalesce(sum(c), 0) DIV 7").cast("long").alias(
            "avg_yearly_c"
        ),
    )


_SMALL_QTY_REVENUE = f"""
WITH li AS (
  SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{SMALL_QTY_BRAND}'
), stats AS (
  SELECT l_partkey AS sp, CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM li GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
       CAST(coalesce(sum(c), 0) AS BIGINT) AS revenue_c,
       CAST(coalesce(sum(c), 0) // 7 AS BIGINT) AS avg_yearly_c
FROM li JOIN stats ON l_partkey = sp
WHERE 5 * qty * n_lines < sum_qty
"""

TOP_SUPPLIER_START = "1999-01-01 00:00:00"
TOP_SUPPLIER_END = "1999-04-01 00:00:00"  # exclusive quarter


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-topology maximum-with-ties: the supplier(s) whose
    quarter revenue equals the global maximum — the view-then-max-
    then-equality pattern, kept EXACT (integer cent-percent revenue,
    so the `= max` never suffers float fuzz and genuine ties all
    emerge).

    Scale shape: per-supplier revenue is ONE map-side-combinable
    groupBy on the 8-byte suppkey over the date-pruned lineitem scan
    (PushedFilters); the global max is a broadcast 1-row aggregate
    (never a window over the supplier table — the q_tfidf_terms
    n_docs discipline), and the winner row(s) decorate from the
    broadcast supplier dim."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            f"l_shipdate >= TIMESTAMP '{TOP_SUPPLIER_START}' AND "
            f"l_shipdate < TIMESTAMP '{TOP_SUPPLIER_END}'"
        )
        .select(
            "l_suppkey",
            F.expr(
                "CAST(floor(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
            ).alias("rev_cp"),
        )
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum("rev_cp").cast("long").alias("total_rev_cp")
    )
    mx = per_supp.agg(
        F.max("total_rev_cp").cast("long").alias("mx")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    return (
        per_supp.join(
            F.broadcast(mx), F.col("total_rev_cp") == F.col("mx")
        )
        .join(
            F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("s_nationkey").cast("long").alias("s_nationkey"),
            "total_rev_cp",
        )
    )


_TOP_SUPPLIER = f"""
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS total_rev_cp
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{TOP_SUPPLIER_START}'
    AND l_shipdate < TIMESTAMP '{TOP_SUPPLIER_END}'
  GROUP BY 1
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(s_nationkey AS BIGINT) AS s_nationkey, total_rev_cp
FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev_cp = (SELECT max(total_rev_cp) FROM per_supp)
"""

IDLE_SINCE = "2000-01-01 00:00:00"  # no orders on/after this


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-topology anti join + scalar average: per nation, the
    count and total balance of customers with ABOVE-AVERAGE account
    balance and NO orders since the cutoff — the lapsed-high-value
    segment.  The average-balance comparison stays exact: bal_c *
    n_customers > sum_bal_c (cents cross-multiplied against the
    1-row global aggregate, no division).

    Scale shape: the global (count, sum) is a broadcast 1-row
    aggregate; the no-recent-orders test is a LEFT ANTI join against
    the date-pruned orders scan keyed on the 8-byte custkey (never
    NOT IN — null-hostile and unplannable); the final per-nation
    rollup is ONE map-side-combinable groupBy.  Balance cents can be
    negative — floor(x*100) is still the documented cross-engine
    form (IEEE floor is exact on both)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)").alias("bal_c"),
    )
    g = cust.agg(
        F.count("*").cast("long").alias("n_cust"),
        F.sum("bal_c").cast("long").alias("sum_bal_c"),
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(f"o_orderdate >= TIMESTAMP '{IDLE_SINCE}'")
        .select("o_custkey")
    )
    rich = cust.join(F.broadcast(g)).where(
        F.expr("bal_c * n_cust > sum_bal_c")
    )
    idle = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return idle.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n_idle_rich"),
        F.sum("bal_c").cast("long").alias("total_bal_c"),
    )


_IDLE_RICH_CUSTOMERS = f"""
WITH cust AS (
  SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(bal_c) AS BIGINT) AS sum_bal_c
  FROM cust
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_idle_rich,
       CAST(sum(bal_c) AS BIGINT) AS total_bal_c
FROM cust, g
WHERE bal_c * n_cust > sum_bal_c
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{IDLE_SINCE}')
GROUP BY 1
"""


FORECAST_YEAR = 1999
FORECAST_DISC_LO = 5  # discount percent bracket, inclusive
FORECAST_DISC_HI = 7
FORECAST_MAX_QTY = 24  # exclusive


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-topology forecast-revenue delta: the revenue that
    would have been gained by eliminating small discounts on
    small-quantity lines in one year — a PURE single-table
    scan-filter-aggregate, the registry's cleanest predicate-pushdown
    showcase (every predicate — year range, discount bracket,
    quantity cap — reaches the parquet scan as a PushedFilter; the
    aggregate is one partial+final count/sum pair with NO groupBy
    key).  Revenue delta = sum(cents * discount_pct), exact int64.

    Scale shape: scan -> WholeStageCodegen filter+partial agg -> one
    single-partition exchange of ONE row."""
    li = load_table(spark, sf_dir, "lineitem").where(
        f"l_shipdate >= TIMESTAMP '{FORECAST_YEAR}-01-01 00:00:00' AND "
        f"l_shipdate < TIMESTAMP '{FORECAST_YEAR + 1}-01-01 00:00:00' AND "
        f"l_discount >= 0.0{FORECAST_DISC_LO} AND "
        f"l_discount <= 0.0{FORECAST_DISC_HI} AND "
        f"l_quantity < {FORECAST_MAX_QTY}"
    )
    return li.agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr(
            "CAST(coalesce(sum(CAST(floor(l_extendedprice * 100) AS "
            "BIGINT) * CAST(floor(l_discount * 100) AS BIGINT)), 0) "
            "AS BIGINT)"
        ).alias("revenue_delta_cpct"),
    )


_FORECAST_REVENUE = f"""
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(coalesce(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                         * CAST(floor(l_discount * 100) AS BIGINT)), 0)
            AS BIGINT) AS revenue_delta_cpct
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{FORECAST_YEAR}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{FORECAST_YEAR + 1}-01-01 00:00:00'
  AND l_discount >= 0.0{FORECAST_DISC_LO}
  AND l_discount <= 0.0{FORECAST_DISC_HI}
  AND l_quantity < {FORECAST_MAX_QTY}
"""


TRADE_NATION_A = "NATION_1"
TRADE_NATION_B = "NATION_2"
TRADE_YEAR_LO = 1996
TRADE_YEAR_HI = 1997  # inclusive


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-topology volume shipping: line revenue flowing
    between two nations (supplier in one, customer in the other,
    both directions) per ship year in a two-year window — the
    bilateral-trade readout.  Revenue is exact int64 cent-percent
    (q_pricing_summary discipline).

    Scale shape: both nation filters collapse into the DIM tables
    before any fact touches them — supplier joins its (filtered,
    2-row) nation broadcast and becomes a broadcast build side
    itself; customer joins the same broadcast and then meets orders
    in an 8-byte-custkey shuffle join (a 2/25-nation customer table
    is NOT broadcastable at 100 TB); lineitem's ship-year window
    pushes into the parquet scan and joins surviving orders on the
    8-byte orderkey.  The cross-pair condition reduces to
    supp_nation != cust_nation because both sides are already
    filtered to the pair.  ONE final map-side-combinable groupBy on
    (supp_nation, cust_nation, year): <= 4 output rows."""
    t = lambda n: load_table(spark, sf_dir, n)  # noqa: E731
    nat = t("nation").where(
        F.col("n_name").isin(TRADE_NATION_A, TRADE_NATION_B)
    ).select("n_nationkey", "n_name")
    sup = (
        t("supplier")
        .join(
            F.broadcast(nat),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t("customer")
        .join(
            F.broadcast(nat),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    ord_ = t("orders").select("o_orderkey", "o_custkey").join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    li = (
        t("lineitem")
        .where(
            f"l_shipdate >= TIMESTAMP '{TRADE_YEAR_LO}-01-01 00:00:00'"
            f" AND l_shipdate < TIMESTAMP "
            f"'{TRADE_YEAR_HI + 1}-01-01 00:00:00'"
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").cast("long").alias("l_year"),
            F.expr(
                "CAST(floor(l_extendedprice * 100) AS BIGINT)"
                " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
            ).alias("rev_cp"),
        )
    )
    j = li.join(
        ord_, F.col("l_orderkey") == F.col("o_orderkey")
    ).join(
        F.broadcast(sup),
        (F.col("l_suppkey") == F.col("s_suppkey"))
        & (F.col("supp_nation") != F.col("cust_nation")),
    )
    return j.groupBy("supp_nation", "cust_nation", "l_year").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
    )


_NATION_TRADE = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
  AND cn.n_name IN ('{TRADE_NATION_A}', '{TRADE_NATION_B}')
  AND sn.n_name <> cn.n_name
  AND l_shipdate >= TIMESTAMP '{TRADE_YEAR_LO}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{TRADE_YEAR_HI + 1}-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


SHARE_REGION = "AMERICA"
SHARE_NATION = "NATION_3"
SHARE_PART_TYPE = "ECONOMY"


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-topology market share: per order year, the permille
    of one region's revenue in one part type that flows to suppliers
    of one nation — the competitive-position readout.  share =
    nation_cp * 1000 DIV total_cp, exact int64 throughout (no float
    division; both engines truncate identically on the non-negative
    quotient).

    Scale shape: the part-type filter broadcasts (~1/6 of part)
    under lineitem; orders meets the region-filtered customer keys
    as a LEFT SEMI join on the 8-byte custkey (narrow probe rows —
    a 1/5-region customer table is NOT broadcastable at 100 TB);
    supplier broadcasts with its nationkey and the nation test is a
    flat integer compare; the conditional and total sums fold in the
    SAME single map-side-combinable groupBy (the q_promo_share
    one-pass discipline): <= |years| output rows."""
    t = lambda n: load_table(spark, sf_dir, n)  # noqa: E731
    nr = (
        t("nation")
        .join(
            F.broadcast(
                t("region").where(F.col("r_name") == SHARE_REGION)
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    cust = t("customer").join(
        F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    parts = t("part").where(
        F.col("p_type") == SHARE_PART_TYPE
    ).select("p_partkey")
    share_nat = (
        t("nation")
        .where(F.col("n_name") == SHARE_NATION)
        .select(F.col("n_nationkey").alias("share_natkey"))
    )
    sup = t("supplier").join(
        F.broadcast(share_nat),
        F.col("s_nationkey") == F.col("share_natkey"),
        "left_semi",
    ).select("s_suppkey")
    ord_ = (
        t("orders")
        .select(
            "o_orderkey",
            "o_custkey",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    li = t("lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
        ).alias("rev_cp"),
    ).join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    j = li.join(ord_, F.col("l_orderkey") == F.col("o_orderkey")).join(
        F.broadcast(
            sup.select(F.col("s_suppkey").alias("nat_suppkey"))
        ),
        F.col("l_suppkey") == F.col("nat_suppkey"),
        "left",
    )
    agg = j.groupBy("o_year").agg(
        F.sum("rev_cp").cast("long").alias("total_cp"),
        F.sum(
            F.when(F.col("nat_suppkey").isNotNull(), F.col("rev_cp"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("nation_cp"),
    )
    return agg.select(
        "o_year",
        "total_cp",
        "nation_cp",
        F.expr("nation_cp * 1000 DIV total_cp").cast("long").alias(
            "share_permille"
        ),
    )


_MARKET_SHARE = f"""
WITH j AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(floor(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(floor(l_discount * 100) AS BIGINT)) AS rev_cp,
         (SELECT n_nationkey FROM nation
          WHERE n_name = '{SHARE_NATION}') = s_nationkey AS is_nat
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  WHERE p_type = '{SHARE_PART_TYPE}' AND r_name = '{SHARE_REGION}'
)
SELECT o_year,
       CAST(sum(rev_cp) AS BIGINT) AS total_cp,
       CAST(sum(CASE WHEN is_nat THEN rev_cp ELSE 0 END) AS BIGINT)
         AS nation_cp,
       CAST(sum(CASE WHEN is_nat THEN rev_cp ELSE 0 END) * 1000
            // sum(rev_cp) AS BIGINT) AS share_permille
FROM j GROUP BY 1
"""


PROFIT_PART_MARK = "widget"  # p_name substring filter


def q_parttype_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-topology product-line profit (minus the supplycost
    term — the fixture has no partsupp table, so the measure is the
    discounted-revenue half of Q9's profit expression; the join
    TOPOLOGY is the point): revenue by (supplier nation, order year)
    for parts whose name carries one substring mark.  Exact int64
    cent-percent money.

    Scale shape: the p_name CONTAINS filter prunes part before its
    broadcast under lineitem (a substring predicate can't push into
    parquet min/max stats, but it DOES prune the broadcast build
    side to ~1/6); supplier+nation broadcast as one small dim;
    orders joins on the 8-byte orderkey purely to supply the year
    (aggregate-then-decorate is pointless here — every line
    survives, so the join IS the fact join).  ONE final map-side
    groupBy on (nation, year): <= 25 * |years| rows."""
    t = lambda n: load_table(spark, sf_dir, n)  # noqa: E731
    parts = t("part").where(
        F.col("p_name").contains(PROFIT_PART_MARK)
    ).select("p_partkey")
    sup = (
        t("supplier")
        .join(
            F.broadcast(t("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    ord_ = t("orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    li = t("lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
        ).alias("rev_cp"),
    ).join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    j = li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")).join(
        ord_, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("nation", "o_year").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("rev_cp").cast("long").alias("revenue_cp"),
    )


_PARTTYPE_PROFIT = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
            AS BIGINT) AS revenue_cp
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{PROFIT_PART_MARK}%'
GROUP BY 1, 2
"""


def q_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-topology fraction-of-global HAVING: parts whose total
    revenue exceeds 1.5x the mean per-part revenue — the "important
    stock" concentration cut, restructured scale-free (classic Q11's
    FRACTION must shrink with SF; comparing against a multiple of the
    mean makes the selectivity scale-invariant — ~1% of parts at both
    fixture scales — and the fixture's 10-supplier sf0.001 slice
    makes Q11's nation filter degenerate, so it is dropped — the
    decorrelated global-scalar HAVING is the topology under test).
    All money exact int64 cent-percent.

    Scale shape: per-part value is ONE map-side-combinable groupBy on
    the 8-byte partkey; the global (total, n_parts) is a broadcast
    1-row aggregate over the per-part table (never a window — the
    q_top_supplier discipline); the HAVING is `value_cp > (3 *
    total_cp) DIV (2 * n_parts)` — pure integer, truncation identical
    in both engines for non-negative operands.  share_permille (value
    * 1000 DIV total) is runtime-guarded at value_cp < 2^52 so the
    multiply can never overflow, and total_cp < 2^61 keeps 3*total
    exact; both raise actionably long before a 100 TB corpus
    approaches them."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(floor(l_extendedprice * 100) AS BIGINT)"
            " * (100 - CAST(floor(l_discount * 100) AS BIGINT))"
        ).alias("rev_cp"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("rev_cp").cast("long").alias("value_cp")
    )
    g = per_part.agg(
        F.sum("value_cp").cast("long").alias("total_cp"),
        F.count("*").cast("long").alias("n_parts"),
    )
    val_ok = F.when(
        F.col("value_cp") < (1 << 52), F.col("value_cp")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "q_value_concentration: per-part value >= 2^52 "
                    "overflows the permille multiply: "
                ),
                F.col("value_cp").cast("string"),
            )
        ).cast("long")
    )
    tot_ok = F.when(
        F.col("total_cp") < (1 << 61), F.col("total_cp")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "q_value_concentration: total >= 2^61 overflows "
                    "the 1.5x-mean threshold: "
                ),
                F.col("total_cp").cast("string"),
            )
        ).cast("long")
    )
    return (
        per_part.join(F.broadcast(g))
        .select(
            F.col("l_partkey").cast("long").alias("l_partkey"),
            val_ok.alias("value_cp"),
            tot_ok.alias("total_cp"),
            "n_parts",
        )
        .where(F.expr("value_cp > (3 * total_cp) DIV (2 * n_parts)"))
        .select(
            "l_partkey",
            "value_cp",
            F.expr("value_cp * 1000 DIV total_cp").cast("long").alias(
                "share_permille"
            ),
        )
    )


_VALUE_CONCENTRATION = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS value_cp
  FROM lineitem GROUP BY 1
), g AS (
  SELECT CAST(sum(value_cp) AS BIGINT) AS total_cp,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM per_part
)
SELECT CAST(l_partkey AS BIGINT) AS l_partkey, value_cp,
       CAST(value_cp * 1000 // total_cp AS BIGINT) AS share_permille
FROM per_part, g
WHERE value_cp > (3 * total_cp) // (2 * n_parts)
"""


DIVERSITY_EXCL_BRAND = "Brand#1"
DIVERSITY_SIZES = (1, 9, 17, 25, 33, 41, 49)
DIVERSITY_MIN_BAL_C = 100000  # exclude suppliers below 1000.00


def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-topology supplier census: how many distinct suppliers
    (and distinct parts) ship each surviving (brand, type, size) part
    group — brand exclusion + size IN-list on the part dim, and a
    NOT-IN supplier blocklist (fixture has no comment column, so the
    "customer complaints" set is re-keyed to under-capitalized
    suppliers, floor(s_acctbal*100) < 100000) expressed as a LEFT
    ANTI join, never NOT IN (null-hostile and unplannable).

    Scale shape: both dims broadcast (part is size/brand-pruned,
    the blocklist is a <= |suppliers| key set); the corpus collapses
    FIRST to distinct (brand, type, size, suppkey, partkey) tuples in
    ONE map-side-combinable distinct — bounded by the pruned part
    count x suppliers-per-part, NOT by lineitem — and only that
    collapsed table pays the two-distinct-column Expand."""
    parts = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != DIVERSITY_EXCL_BRAND)
            & F.col("p_size").isin(*DIVERSITY_SIZES)
        )
        .select(
            "p_partkey",
            "p_brand",
            "p_type",
            F.col("p_size").cast("long").alias("p_size"),
        )
    )
    blocked = (
        load_table(spark, sf_dir, "supplier")
        .where(
            F.expr("CAST(floor(s_acctbal * 100) AS BIGINT)")
            < DIVERSITY_MIN_BAL_C
        )
        .select("s_suppkey")
    )
    base = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(blocked),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .select("p_brand", "p_type", "p_size", "l_suppkey", "l_partkey")
        .distinct()
    )
    return base.groupBy("p_brand", "p_type", "p_size").agg(
        F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"),
        F.countDistinct("l_partkey").cast("long").alias("part_cnt"),
    )


_SUPPLIER_DIVERSITY = f"""
WITH base AS (
  SELECT DISTINCT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
                  l_suppkey, l_partkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand <> '{DIVERSITY_EXCL_BRAND}'
    AND p_size IN {DIVERSITY_SIZES}
    AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier
      WHERE CAST(floor(s_acctbal * 100) AS BIGINT)
            < {DIVERSITY_MIN_BAL_C}
    )
)
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS part_cnt
FROM base GROUP BY 1, 2, 3
"""


SOLE_LATE_DAYS = 60  # ship > orderdate + this many days = late


def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-topology EXISTS + NOT-EXISTS double correlation: per
    supplier, how many multi-supplier orders they ALONE shipped late
    (late = l_shipdate more than 60 days after o_orderdate — the
    fixture has no commit/receipt dates, so the lateness predicate is
    re-keyed onto ship-vs-order lag; the double-correlated-subquery
    TOPOLOGY is the point).  EXISTS(another supplier in the order)
    AND NOT EXISTS(another LATE supplier) decorrelate into one
    per-(order, supplier) aggregate and one per-order aggregate —
    n_supp >= 2, n_late = 1, blame = the unique late suppkey via
    max(CASE) — never a self-join per subquery.

    Scale shape: lineitem joins orders on the 8-byte orderkey (a
    fact-fact shuffle join; BOTH sides are corpus-sized, so no
    broadcast), then TWO map-side-combinable groupBys collapse to
    (order, supplier) and then order granularity; the winner census
    groups on the 8-byte suppkey and decorates from the broadcast
    supplier dim.  Everything downstream of the first groupBy is
    bounded by orders, not lineitem."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_os = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            F.expr(
                "CAST(l_shipdate > o_orderdate + INTERVAL "
                f"{SOLE_LATE_DAYS} DAYS AS INT)"
            ).alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").cast("long").alias("any_late"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_supp"),
        F.sum("any_late").cast("long").alias("n_late"),
        F.max(
            F.when(F.col("any_late") == 1, F.col("l_suppkey"))
        ).alias("blame"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        per_o.where("n_supp >= 2 AND n_late = 1")
        .groupBy("blame")
        .agg(F.count("*").cast("long").alias("numwait"))
        .join(F.broadcast(sup), F.col("blame") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            "numwait",
        )
    )


_SOLE_LATE_SUPPLIER = f"""
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate
                       + INTERVAL {SOLE_LATE_DAYS} DAY
                  THEN 1 ELSE 0 END) AS any_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), per_o AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(any_late) AS n_late,
         max(CASE WHEN any_late = 1 THEN l_suppkey END) AS blame
  FROM per_os GROUP BY 1
)
SELECT CAST(blame AS BIGINT) AS s_suppkey, s_name,
       CAST(count(*) AS BIGINT) AS numwait
FROM per_o JOIN supplier ON blame = s_suppkey
WHERE n_supp >= 2 AND n_late = 1
GROUP BY 1, 2
"""


CHEAPEST_SIZE = 15  # Q2's size class
CHEAPEST_REGION = "EUROPE"


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-topology correlated-min subquery: for every part in
    one size class, the region supplier(s) quoting the minimum unit
    price — `WHERE price = (SELECT min(price) ... same part)`
    decorrelated into a per-part aggregate joined back by equality
    (ties all emerge, exactly like the reference query).  The fixture
    has no partsupp, so a supplier's quote is re-keyed to the
    cheapest line they ever shipped of the part: unit_price_c =
    min(cents DIV qty) over their lines (integer truncation,
    identical both engines; qty >= 1 in the fixture, runtime-guarded).

    Scale shape: the size-class part dim and the region->nation->
    supplier chain BOTH broadcast (each a dim-table prune); the
    corpus collapses to (part, supplier) quotes in ONE map-side-
    combinable groupBy, the per-part min is a SECOND bounded
    aggregate on the 8-byte partkey, and the equality join-back runs
    quote-table x min-table — both bounded by parts x
    suppliers-per-part, never lineitem."""
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_size") == CHEAPEST_SIZE)
        .select("p_partkey")
    )
    reg = (
        load_table(spark, sf_dir, "region")
        .where(F.col("r_name") == CHEAPEST_REGION)
        .select("r_regionkey")
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").join(
                    F.broadcast(reg),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )
    qty_ok = F.when(
        F.expr("CAST(floor(l_quantity) AS BIGINT)") >= 1,
        F.expr("CAST(floor(l_quantity) AS BIGINT)"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "q_cheapest_supplier: qty < 1 breaks the unit-price "
                "quotient"
            )
        ).cast("long")
    )
    quotes = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_partkey",
            "l_suppkey",
            "s_name",
            "nation",
            F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")
            .alias("c"),
            qty_ok.alias("qty"),
        )
        .groupBy("l_partkey", "l_suppkey", "s_name", "nation")
        .agg(F.min(F.expr("c DIV qty")).cast("long").alias("unit_price_c"))
    )
    mins = quotes.groupBy(F.col("l_partkey").alias("mp")).agg(
        F.min("unit_price_c").cast("long").alias("min_price_c")
    )
    return quotes.join(
        mins,
        (F.col("l_partkey") == F.col("mp"))
        & (F.col("unit_price_c") == F.col("min_price_c")),
    ).select(
        F.col("l_partkey").cast("long").alias("p_partkey"),
        F.col("l_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        "nation",
        "unit_price_c",
    )


_CHEAPEST_SUPPLIER = f"""
WITH quotes AS (
  SELECT l_partkey, l_suppkey, s_name, n_name AS nation,
         CAST(min(CAST(floor(l_extendedprice * 100) AS BIGINT)
                  // CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
           AS unit_price_c
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE p_size = {CHEAPEST_SIZE} AND r_name = '{CHEAPEST_REGION}'
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey,
       CAST(l_suppkey AS BIGINT) AS s_suppkey,
       s_name, nation, unit_price_c
FROM quotes q
WHERE unit_price_c = (SELECT min(unit_price_c) FROM quotes m
                      WHERE m.l_partkey = q.l_partkey)
"""


DOMINANT_PART_MARK = "widget"  # p_name substring filter


def q_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-topology nested semi-join chain: suppliers who
    dominate a marked part's shipments — shipped quantity above TWICE
    the part's mean per-supplier share (Q20's `availqty > 0.5 *
    shipped` correlated-aggregate test re-keyed scale-free: the
    fixture has no partsupp, and a fixed global fraction goes
    degenerate as suppliers-per-part grows — the 1.5x/2x-mean
    discipline of q_value_concentration).  The dominance test stays
    pure integer: `q > (2 * tq) DIV ns` (truncation identical both
    engines, non-negative operands; tq < 2^61 runtime-guarded).

    Scale shape: the name-marked part dim broadcasts under lineitem;
    the corpus collapses to (part, supplier) quantities in ONE
    map-side-combinable groupBy; the per-part (total, n_suppliers)
    is a SECOND bounded aggregate joined back on the 8-byte partkey;
    winners collapse to supplier granularity in a THIRD bounded
    groupBy and decorate from the broadcast supplier dim.  Everything
    after the first groupBy is bounded by parts x suppliers-per-part,
    never lineitem."""
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").contains(DOMINANT_PART_MARK))
        .select("p_partkey")
    )
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("qty"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").cast("long").alias("q"))
    )
    tot_ok = F.when(
        F.col("tq") < (1 << 61), F.col("tq")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "q_dominant_supplier: part total >= 2^61 overflows "
                    "the 2x-mean threshold: "
                ),
                F.col("tq").cast("string"),
            )
        ).cast("long")
    )
    tot = ps.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("q").cast("long").alias("tq"),
        F.count("*").cast("long").alias("ns"),
    )
    winners = (
        ps.join(tot, F.col("l_partkey") == F.col("tp"))
        .select("l_partkey", "l_suppkey", "q", tot_ok.alias("tq"), "ns")
        .where(F.expr("q > (2 * tq) DIV ns"))
        .groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_dominated"),
            F.sum("q").cast("long").alias("total_qty"),
        )
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return winners.join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    ).select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        "n_dominated",
        "total_qty",
    )


_DOMINANT_SUPPLIER = f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%{DOMINANT_PART_MARK}%'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey AS tp, CAST(sum(q) AS BIGINT) AS tq,
         CAST(count(*) AS BIGINT) AS ns
  FROM ps GROUP BY 1
)
SELECT CAST(l_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(count(*) AS BIGINT) AS n_dominated,
       CAST(sum(q) AS BIGINT) AS total_qty
FROM ps JOIN tot ON l_partkey = tp
JOIN supplier ON l_suppkey = s_suppkey
WHERE q > (2 * tq) // ns
GROUP BY 1, 2
"""


PRIORITY_MIX_YEAR = 1999  # ship-year window (parquet pushdown)


def q_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-topology two-branch conditional counts: per
    ship-latency bucket (fast <= 30 days, medium <= 60, slow beyond —
    the fixture has no l_shipmode, so Q12's mode grouping is re-keyed
    to the order->ship lag bucket derived from the same joined row),
    how many lines belong to critical-priority orders (1-URGENT /
    2-HIGH) vs everything else, inside one ship year.  The lag stays
    exact integer: (floor(epoch(ship)) - floor(epoch(order))) DIV
    86400 — unix_timestamp FLOORS in Spark and the oracle wraps
    epoch() in floor(), the documented cross-engine form.

    Scale shape: the ship-year predicate pushes into the lineitem
    parquet scan (PushedFilters); lineitem joins orders on the 8-byte
    orderkey (size-driven strategy — broadcast at tiny sf, shuffle at
    corpus scale); both branch counts fold in ONE map-side-combinable
    groupBy over the 3-row bucket key — the whole answer is one scan,
    one join, one aggregate."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            f"l_shipdate >= TIMESTAMP '{PRIORITY_MIX_YEAR}-01-01 00:00:00'"
            f" AND l_shipdate < TIMESTAMP "
            f"'{PRIORITY_MIX_YEAR + 1}-01-01 00:00:00'"
        )
        .select("l_orderkey", "l_shipdate")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.expr(
            "CASE WHEN (unix_timestamp(l_shipdate)"
            " - unix_timestamp(o_orderdate)) DIV 86400 <= 30"
            " THEN 'fast'"
            " WHEN (unix_timestamp(l_shipdate)"
            " - unix_timestamp(o_orderdate)) DIV 86400 <= 60"
            " THEN 'medium' ELSE 'slow' END"
        ).alias("latency_bucket"),
        F.expr(
            "CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS INT)"
        ).alias("crit"),
    )
    return j.groupBy("latency_bucket").agg(
        F.sum("crit").cast("long").alias("high_line_count"),
        F.sum(F.expr("1 - crit")).cast("long").alias("low_line_count"),
    )


_PRIORITY_MIX = f"""
SELECT CASE WHEN (CAST(floor(epoch(l_shipdate)) AS BIGINT)
                  - CAST(floor(epoch(o_orderdate)) AS BIGINT)) // 86400 <= 30
            THEN 'fast'
            WHEN (CAST(floor(epoch(l_shipdate)) AS BIGINT)
                  - CAST(floor(epoch(o_orderdate)) AS BIGINT)) // 86400 <= 60
            THEN 'medium' ELSE 'slow' END AS latency_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '{PRIORITY_MIX_YEAR}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{PRIORITY_MIX_YEAR + 1}-01-01 00:00:00'
GROUP BY 1
"""


LATE_ORDER_QUARTER_START = "1999-01-01 00:00:00"
LATE_ORDER_QUARTER_END = "1999-04-01 00:00:00"  # exclusive
LATE_ORDER_MIN_LAG_DAYS = 90


def q_late_order_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-topology EXISTS census: orders placed in one quarter
    that have AT LEAST ONE line shipping more than 90 days after the
    order date, counted per priority — the fulfillment-failure rate
    behind the SLA dashboard, and the registry's representative for an
    EXISTS whose condition spans BOTH tables (not just the key).

    Scale shape: the quarter predicate pushes into the orders scan;
    the existence test is a LEFT SEMI join on the 8-byte orderkey
    with the cross-table lag condition riding the join (never a
    correlated per-row subquery, never a count-then-filter of all
    lines); ONE final map-side groupBy."""
    ord_ = (
        load_table(spark, sf_dir, "orders")
        .where(
            f"o_orderdate >= TIMESTAMP '{LATE_ORDER_QUARTER_START}' AND "
            f"o_orderdate < TIMESTAMP '{LATE_ORDER_QUARTER_END}'"
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.expr(
                "CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT)"
                " DIV 86400"
            ).alias("od"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(floor(unix_timestamp(l_shipdate)) AS BIGINT) DIV 86400"
        ).alias("sd"),
    )
    late = ord_.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("sd") - F.col("od") > LATE_ORDER_MIN_LAG_DAYS),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_late_orders")
    )


_LATE_ORDER_CENSUS = f"""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_late_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '{LATE_ORDER_QUARTER_START}'
  AND o_orderdate < TIMESTAMP '{LATE_ORDER_QUARTER_END}'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400
          - CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400
          > {LATE_ORDER_MIN_LAG_DAYS}
  )
GROUP BY 1
"""


SHIP_LAG_MAX_DAYS = 4096  # census stays domain-bounded past this


def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: line
    count, exact type-1 median lag days, floored mean, and max — the
    fulfillment-SLA readout, computed the q_winsorized_stats way
    (domain-bounded census + cumulative windows), never a per-priority
    sort of raw lines.

    Scale shape: ONE orderkey shuffle join (both sides projected to
    the needed columns), ONE corpus-sized map-side census groupBy on
    (priority, lag_days); the quantile machinery runs on census rows
    bounded by the LAG DOMAIN (< SHIP_LAG_MAX_DAYS, runtime-guarded),
    and mean/max fold in the same census aggregate."""
    ord_ = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "CAST(floor(unix_timestamp(o_orderdate)) AS BIGINT) DIV 86400"
        ).alias("od"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(floor(unix_timestamp(l_shipdate)) AS BIGINT) DIV 86400"
        ).alias("sd"),
    )
    lag = (
        li.join(ord_, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            (F.col("sd") - F.col("od")).alias("lag"),
        )
    )
    census = lag.groupBy("o_orderpriority", "lag").agg(
        F.count("*").cast("long").alias("cnt")
    )
    guarded = F.when(
        (F.col("lag") > -SHIP_LAG_MAX_DAYS)
        & (F.col("lag") < SHIP_LAG_MAX_DAYS),
        F.col("lag"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "q_ship_latency: |lag| >= 4096 days — census no "
                "longer domain-bounded; check the date columns"
            )
        ).cast("long")
    )
    census = census.select(
        "o_orderpriority", guarded.alias("lag"), "cnt"
    )
    wc = Window.partitionBy("o_orderpriority").orderBy("lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("o_orderpriority")
    c = census.select(
        "o_orderpriority",
        "lag",
        "cnt",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    return c.groupBy("o_orderpriority").agg(
        F.max("n").cast("long").alias("n_lines"),
        F.min(
            F.when(F.expr("cum >= (n + 1) DIV 2"), F.col("lag"))
        ).cast("long").alias("median_days"),
        F.expr("sum(lag * cnt) DIV max(n)").cast("long").alias(
            "mean_days_fl"
        ),
        F.max("lag").cast("long").alias("max_days"),
    )


_SHIP_LATENCY = """
WITH lag AS (
  SELECT o_orderpriority,
         CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400
           - CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS lag
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), census AS (
  SELECT o_orderpriority, lag, CAST(count(*) AS BIGINT) AS cnt
  FROM lag GROUP BY 1, 2
), c AS (
  SELECT o_orderpriority, lag, cnt,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY lag
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY o_orderpriority) AS n
  FROM census
)
SELECT o_orderpriority,
       CAST(max(n) AS BIGINT) AS n_lines,
       CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN lag END) AS BIGINT)
         AS median_days,
       CAST(sum(lag * cnt) // max(n) AS BIGINT) AS mean_days_fl,
       CAST(max(lag) AS BIGINT) AS max_days
FROM c GROUP BY 1
"""
