"""Full TPC-H shape coverage — Q2, Q7-Q17, Q19-Q22 adapted to the
fixture star schema (no partsupp table and no commit/receipt dates:
Q2/Q11/Q16/Q20 derive a partsupp surrogate from lineitem's
(l_partkey, l_suppkey) pairs, Q12/Q21 use ship-vs-order-date
lateness).

Together with relational2.py's Q1/Q3/Q4/Q5/Q6/Q18 this covers the
join/aggregation shape of every query in the TPC-H suite:
join-order selection across 6+ tables, disjunctive join predicates,
correlated scalar subqueries (decorrelated to aggregate-then-join),
argmin-per-group, nested IN chains, EXISTS/NOT EXISTS chains,
left-outer histograms, conditional-aggregate ratios, and
global-scalar HAVING filters.

Scale posture (same rules as relational.py — see SCALE.md): constant-
size dims are broadcast explicitly, filtered fact-side aggregates are
broadcast when provably small, everything else is left to AQE; ratios
divide *decimal-exact* sums cast to double, so results are identical
at any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log2ck_spark.functions.numeric import (
    DECIMAL,
    dsum,
    finite,
    oracle_dsum,
    oracle_round6,
)
from log2ck_spark.io import tbl
from log2ck_spark.queries import register

_REV = "l_extendedprice * (1 - l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def _csum(cond: F.Column, value, alias: str) -> F.Column:
    """Order-independent conditional SUM (decimal cast before the sum,
    like dsum) — the CASE WHEN ... THEN x ELSE 0 aggregation pattern."""
    v = F.lit(value) if isinstance(value, (int, float)) else value
    return (
        F.sum(F.when(cond, v).otherwise(F.lit(0.0)).try_cast(DECIMAL))
        .cast("double")
        .alias(alias)
    )


def _oracle_csum(cond: str, expr: str, alias: str) -> str:
    return (
        f"CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN {cond} THEN {expr} ELSE 0 END"
        f" AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS {alias}"
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations
# --------------------------------------------------------------------------


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l_shipdate) AS INTEGER) AS l_year,
           {revenue}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """.format(revenue=oracle_dsum(_REV, "revenue")),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume. The two nation aliases
    are pre-filtered to the 2 relevant rows and broadcast, so the
    nation-pair disjunction evaluates against 2×2 candidates after two
    broadcast joins — the only real shuffle is lineitem⋈orders."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    pair = ["NATION_1", "NATION_2"]
    n1 = (
        tbl(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = (
        tbl(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(pair))
        .select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(_rev(), "revenue"))
    )


# --------------------------------------------------------------------------
# Q8 — national market share within a region
# --------------------------------------------------------------------------


@register(
    "tpch_q8_market_share",
    oracle="""
    WITH all_nations AS (
      SELECT CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           {num} / {den} AS mkt_share
    FROM all_nations GROUP BY o_year
    """.format(
        num=_oracle_csum("supp_nation = 'NATION_3'", "volume", "num").rsplit(" AS ", 1)[0],
        den=oracle_dsum("volume", "den").rsplit(" AS ", 1)[0],
    ),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's PROMO-part
    import volume per year. The share is a conditional-sum / sum ratio
    computed in a single aggregation pass (no second scan, no join of
    two aggregates); both sums are decimal-exact before the double
    division, so the ratio is bit-stable under any partitioning."""
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = tbl(spark, sf_dir, "customer")
    n1 = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    s = tbl(spark, sf_dir, "supplier")
    n2 = tbl(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    agg = joined.groupBy("o_year").agg(
        _csum(F.col("supp_nation") == "NATION_3", F.col("volume"), "num"),
        dsum("volume", "den"),
    )
    return agg.select("o_year", (F.col("num") / F.col("den")).alias("mkt_share"))


# --------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and year
# --------------------------------------------------------------------------


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) AS INTEGER) AS o_year,
           {profit}
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """.format(profit=oracle_dsum(_REV, "profit")),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit term reduced to revenue — the fixture has
    no partsupp.ps_supplycost): LIKE-filtered part dimension broadcast
    into the lineitem scan, then one orderkey shuffle against orders.
    The p_name filter lands parquet-side as a StringContains pushdown."""
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = tbl(spark, sf_dir, "supplier")
    o = tbl(spark, sf_dir, "orders")
    n = tbl(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(dsum(_rev(), "profit"))
    )


# --------------------------------------------------------------------------
# Q10 — returned-item revenue by customer (top 20)
# --------------------------------------------------------------------------


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, {revenue}, c_acctbal, n_name
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """.format(revenue=oracle_dsum(_REV, "revenue")),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter.
    Group-then-top-k: the orderBy+limit compiles to
    TakeOrderedAndProject (per-partition heaps, 20 rows to the driver —
    no global sort). c_custkey tie-break makes the top-20 *set*
    deterministic, which the oracle hash requires."""
    l = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q11 — important part values vs a global-scalar threshold
# --------------------------------------------------------------------------

_Q11_NATIONS = "s_nationkey < 13"


@register(
    "tpch_q11_important_share",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_extendedprice
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE {nations}
    )
    SELECT l_partkey AS p_key, {value}
    FROM ps
    GROUP BY l_partkey
    HAVING CAST(CAST(SUM(TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
           > (SELECT CAST(CAST(SUM(TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                     * 0.001 FROM ps)
    """.format(nations=_Q11_NATIONS, value=oracle_dsum("l_extendedprice", "value")),
)
def tpch_q11_important_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part traded value, keeping parts above a
    fraction of the GLOBAL total (partsupp surrogate = lineitem ⋈
    supplier restricted to half the nations). The global scalar is a
    1-row aggregate cross-broadcast into the HAVING filter — two
    aggregation passes over one shared, pre-filtered input; no
    correlated re-scan per group. Both sums are decimal-exact, so the
    threshold comparison is engine-stable."""
    s = tbl(spark, sf_dir, "supplier").filter(F.expr(_Q11_NATIONS))
    ps = (
        tbl(spark, sf_dir, "lineitem")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_partkey", "l_extendedprice")
    )
    per_part = ps.groupBy(F.col("l_partkey").alias("p_key")).agg(
        dsum("l_extendedprice", "value")
    )
    total = ps.agg((dsum("l_extendedprice") * F.lit(0.001)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .select("p_key", "value")
    )


# --------------------------------------------------------------------------
# Q12 — late-shipment counts by priority class
# --------------------------------------------------------------------------


@register(
    "tpch_q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_line_count,
           COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE datediff('day', o_orderdate, l_shipdate) > 60
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (lateness = shipped >60 days after order — the
    fixture has no commit/receipt dates): join then conditional-count
    aggregation. The year filter pushes to the lineitem scan; the
    datediff predicate evaluates post-join inside the same codegen
    stage. Integer conditional sums need no decimal guard."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = tbl(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.datediff("l_shipdate", "o_orderdate") > 60)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (left-outer histogram)
# --------------------------------------------------------------------------


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed k orders. The
    LEFT OUTER join keeps zero-order customers (COUNT of the null-
    extended o_orderkey is 0); the join-side predicate lives in the ON
    clause — moving it to WHERE would silently drop those customers.
    Two shuffles total (custkey join+agg share one exchange, then the
    tiny c_count histogram)."""
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    o = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


# --------------------------------------------------------------------------
# Q14 — promotion revenue share for one month
# --------------------------------------------------------------------------


@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT 100.0 * {num} / {den} AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """.format(
        num=_oracle_csum(
            "p_type = 'PROMO'", _REV, "num"
        ).rsplit(" AS ", 1)[0],
        den=oracle_dsum(_REV, "den").rsplit(" AS ", 1)[0],
    ),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: % of one month's revenue from PROMO parts.
    One broadcast join + one scalar aggregation; the month filter
    prunes the lineitem scan before the join."""
    l = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_type")
    agg = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            _csum(F.col("p_type") == "PROMO", _rev(), "num"),
            dsum(_rev(), "den"),
        )
    )
    return agg.select(
        (F.lit(100.0) * F.col("num") / F.col("den")).alias("promo_revenue")
    )


# --------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue
# --------------------------------------------------------------------------


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {total}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """.format(total=oracle_dsum(_REV, "total_revenue")),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the max quarterly
    revenue. The MAX scalar subquery decorrelates to a 1-row aggregate
    cross-broadcast against the (#suppliers)-row revenue aggregate —
    both tiny at any corpus scale. MAX of doubles is order-independent,
    so no decimal guard is needed on the second pass."""
    rev = (
        tbl(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_rev(), "total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = tbl(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --------------------------------------------------------------------------
# Q16 — supplier count per part attribute (NOT IN exclusion)
# --------------------------------------------------------------------------

_Q16_SIZES = [1, 5, 9, 14, 19, 23, 28, 36]


@register(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN ({sizes})
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """.format(sizes=", ".join(str(s) for s in _Q16_SIZES)),
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per part attribute,
    excluding a supplier blacklist (partsupp surrogate = distinct
    lineitem pairs). The NOT IN subquery becomes a left-anti broadcast
    join — no null-key trap because s_suppkey is non-null; the distinct
    pair projection runs map-side before its shuffle."""
    ps = tbl(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(_Q16_SIZES)
    )
    bad = tbl(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated avg, decorrelated)
# --------------------------------------------------------------------------


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH target AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#1' AND p_type = 'SMALL'
    ), lim AS (
      SELECT l_partkey AS pk,
             (CAST(CAST(SUM(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
              / COUNT(l_quantity)) * 0.5 AS qty_limit
      FROM target GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
           / 7.0 AS avg_yearly,
           COUNT(*) AS n_small
    FROM target JOIN lim ON l_partkey = pk
    WHERE l_quantity < qty_limit
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost if sub-half-average-quantity
    orders of one brand were dropped. The correlated per-part AVG
    subquery decorrelates into aggregate-then-join: one pass computes
    each part's threshold, broadcast back against the same filtered
    fact slice — the naive plan re-scans lineitem per part. The avg is
    decimal-exact/count so the `<` boundary is engine-stable."""
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL")
    )
    target = (
        tbl(spark, sf_dir, "lineitem")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    lim = target.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            (F.sum(F.col("l_quantity").try_cast(DECIMAL)).cast("double") / F.count("l_quantity"))
            * F.lit(0.5)
        ).alias("qty_limit")
    )
    return (
        target.join(F.broadcast(lim), F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(F.col("l_extendedprice").try_cast(DECIMAL)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_small"),
        )
    )


# --------------------------------------------------------------------------
# Q19 — disjunctive join predicates (brand × size × quantity bands)
# --------------------------------------------------------------------------

_Q19_DISJUNCTS = """
      (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


@register(
    "tpch_q19_disjunctive_join",
    oracle="""
    SELECT {revenue}, COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE {disjuncts}
    """.format(revenue=oracle_dsum(_REV, "revenue"), disjuncts=_Q19_DISJUNCTS),
)
def tpch_q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of conjunctive brand/size/quantity bands.
    The join stays a pure equi-join on partkey (hashable, broadcast);
    the disjunction evaluates as a post-join filter in the same codegen
    stage. Folding the OR into the join condition would force a
    nested-loop join — the classic Q19 trap. Catalyst also extracts
    the common `p_brand IN (...)` prefix to prune the build side."""
    l = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    band = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 40)
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(band)
        .agg(dsum(_rev(), "revenue"), F.count("*").alias("n_items"))
    )


# --------------------------------------------------------------------------
# Q21 — suppliers solely responsible for returns on shared orders
# --------------------------------------------------------------------------


@register(
    "tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders   ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (lateness → returnflag: the fixture has no
    receipt/commit dates): on finished multi-supplier orders, find the
    supplier who was the ONLY one with a returned line.

    r14 (guide §2.4): the EXISTS / NOT EXISTS chain used to compile to
    a semi + anti join against two distinct pair sets — THREE lineitem
    scans per run (l1, pairs, r_pairs; the executed plan showed no
    exchange reuse). One (orderkey, suppkey) aggregation replaces all
    three: per pair, r_lines counts that supplier's returned lines in
    the order; per order, a partition-only window gives the distinct-
    supplier count (ns = rows of the pair agg) and the returned-
    supplier count (nrs). A pair qualifies exactly when the original
    l1 row did — it has returned lines (r_lines > 0 ⟺ l1 exists with
    flag R), another supplier exists (ns > 1 ⟺ EXISTS l2), and no
    OTHER supplier returned (nrs == 1 ⟺ NOT EXISTS l3, since the pair
    itself is one of the nrs) — and contributes its r_lines rows to
    numwait, which is what COUNT(*) over qualifying l1 rows summed.
    Lineitem scans 3 → 1; the orders filter join is unchanged. Top-10
    via TakeOrderedAndProject with an s_name tie-break for a
    deterministic result set.

    NULL suppliers are dropped before the pair aggregation: the
    oracle's `l_suppkey <> l1.l_suppkey` is never true against a NULL,
    so a NULL-supplier line is neither another supplier (ns) nor
    another returning supplier (nrs)."""
    per_pair = (
        tbl(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.count(F.when(F.col("l_returnflag") == "R", True)).alias("r_lines")
        )
    )
    wo = Window.partitionBy("l_orderkey")
    qual = (
        per_pair.withColumn("ns", F.count("*").over(wo))
        .withColumn("nrs", F.sum((F.col("r_lines") > 0).cast("int")).over(wo))
        .filter(
            (F.col("r_lines") > 0) & (F.col("ns") > 1) & (F.col("nrs") == 1)
        )
    )
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = tbl(spark, sf_dir, "supplier")
    return (
        qual.join(o, qual.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("r_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q22 — dormant high-balance customers by country code
# --------------------------------------------------------------------------


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(CAST(SUM(TRY_CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / COUNT(c_acctbal) AS v
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c_custkey % 7 AS INTEGER) AS cntrycode,
           COUNT(*) AS numcust,
           {total}
    FROM customer
    WHERE c_acctbal > (SELECT v FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY 1
    """.format(total=oracle_dsum("c_acctbal", "totacctbal")),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (country code → custkey mod 7: the fixture has
    no c_phone): customers with above-average balances and no orders.
    The AVG scalar decorrelates to a 1-row broadcast; NOT EXISTS is a
    left-anti join against the distinct o_custkey projection (shuffle
    carries one long per order). The decimal-exact average keeps the
    `>` boundary engine-stable."""
    c = tbl(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").try_cast(DECIMAL)).cast("double")
                / F.count("c_acctbal")
            ).alias("v")
        )
    )
    o = tbl(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("v"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 7).cast("int").alias("cntrycode"))
        .agg(F.count("*").alias("numcust"), dsum("c_acctbal", "totacctbal"))
    )


# --------------------------------------------------------------------------
# Supplementary: ranking-function windows (NTILE / percent_rank)
# --------------------------------------------------------------------------


@register(
    "window_ntile",
    oracle="""
    SELECT event_id, event_type,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           ROUND(percent_rank() OVER w, 6) AS pr
    FROM events
    -- NULLS FIRST: the engine contract is Spark's ASC default (NULL
    -- scores sort lowest); DuckDB's default is NULLS LAST regardless
    -- of direction, so it must be spelled out (--sparse gate)
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY value NULLS FIRST, event_id)
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment + percentile position per event within its
    type — the score-bucketing window family (NTILE / percent_rank)
    rounding out the B15 surface. One shuffle on the partition key;
    the (value, event_id) tie-break keeps bucket edges deterministic."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


# --------------------------------------------------------------------------
# Supplementary: distribution moments (decimal-exact stddev)
# --------------------------------------------------------------------------


@register(
    "stats_moments",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           {mean},
           CASE WHEN COUNT(*) > 1 THEN
             {std}
           END AS std
    FROM events GROUP BY event_type
    """.format(
        std=oracle_round6(
            "sqrt(greatest("
            "(CAST(CAST(SUM(TRY_CAST(CAST(value * value AS VARCHAR)"
            " AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)"
            " - pow(CAST(CAST(SUM(TRY_CAST(CAST(value AS VARCHAR)"
            " AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 2)"
            " / COUNT(*)) / (COUNT(*) - 1), 0.0))"
        ),
        mean=oracle_round6(
            "CAST(CAST(SUM(TRY_CAST(CAST(value AS VARCHAR)"
            " AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*)"
        )
        + " AS mean"
    ),
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mean + sample stddev from decimal-exact Σx / Σx² in a
    single aggregation pass. Built-in stddev_samp sums doubles in
    partition order — correct but not bit-reproducible across
    partitionings or engines; the decimal route is both, at the same
    single-shuffle cost."""
    ev = tbl(spark, sf_dir, "events")
    s = F.sum(F.col("value").try_cast(DECIMAL)).cast("double")
    s2 = F.sum((F.col("value") * F.col("value")).try_cast(DECIMAL)).cast("double")
    n = F.count("*")
    var = (s2 - F.pow(s, 2) / n) / (n - 1)
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        F.round(s / n, 6).alias("mean"),
        # sample stddev is undefined for n=1 (the n-1 denominator):
        # NULL, like stddev_samp — under ANSI mode the unguarded
        # division aborts the whole job on any single-row group.
        F.when(
            n > 1, F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)
        ).alias("std"),
    )


# --------------------------------------------------------------------------
# Q2 — min-cost supplier per part (argmin-per-group, join-back)
# --------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(CAST(SUM(TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(SUM(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS cost
      FROM lineitem GROUP BY 1, 2
    ), target AS (
      SELECT l_partkey, l_suppkey, cost
      FROM ps JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'LARGE' AND p_size < 15
    ), mins AS (
      SELECT l_partkey AS mk, MIN(cost) AS min_cost FROM target GROUP BY 1
    )
    SELECT t.l_partkey AS p_key, s_name, n_name, t.cost AS min_cost
    FROM target t
    JOIN mins ON t.l_partkey = mk AND t.cost = min_cost
    JOIN supplier ON t.l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp surrogate: observed avg unit price per
    (part, supplier) from lineitem): the supplier(s) achieving each
    part's minimum cost — the correlated-MIN-subquery pattern,
    decorrelated to argmin-per-group via aggregate-then-join-back on
    (key, extremum). Both sides of the equality come from the same
    decimal-exact expression, so the double comparison is safe. The
    min table is one row per qualifying part — broadcastable; dims
    broadcast.

    r14 (guide §2.4): the min used to be a separate aggregate joined
    back onto target — Catalyst planned the WHOLE lineitem agg + part
    join subtree twice (no exchange reuse fired; the executed plan
    held 2 lineitem scans), so the fact table was scanned and
    aggregated twice. A partition-only window min over target (one
    row per (part, supplier) — aggregate-sized, NOT the fact table)
    computes the identical extremum in the same pass: lineitem scans
    2 → 1, the duplicated agg subtree gone, one narrow exchange by
    l_partkey added. Values identical (same min over the same group,
    same double equality)."""
    ps = (
        tbl(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(F.col("l_extendedprice").try_cast(DECIMAL)).cast("double")
                / F.sum(F.col("l_quantity").try_cast(DECIMAL)).cast("double")
            ).alias("cost")
        )
    )
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 15)
    )
    target = ps.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_suppkey", "cost"
    )
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    return (
        target.withColumn(
            "min_cost", F.min("cost").over(Window.partitionBy("l_partkey"))
        )
        .filter(F.col("cost") == F.col("min_cost"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("l_partkey").alias("p_key"), "s_name", "n_name",
            F.col("cost").alias("min_cost"),
        )
    )


# --------------------------------------------------------------------------
# Q20 — dominant suppliers of a part family (nested IN chain)
# --------------------------------------------------------------------------


@register(
    "tpch_q20_excess_supplier",
    oracle="""
    WITH blue AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%blue%'
    ), sq AS (
      SELECT l_partkey, l_suppkey,
             CAST(CAST(SUM(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty
      FROM lineitem JOIN blue ON p_partkey = l_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey AS pk,
             CAST(CAST(SUM(TRY_CAST(CAST(qty AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total,
             COUNT(*) AS nsupp
      FROM sq GROUP BY 1
    ), dominant AS (
      SELECT DISTINCT l_suppkey FROM sq JOIN tot ON l_partkey = pk
      WHERE qty > 2.0 * total / nsupp
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
)
def tpch_q20_excess_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty surrogate: shipped-quantity share):
    suppliers moving more than 2x the average per-supplier share of
    any 'blue' part — the nested IN-subquery chain (part family →
    qualifying (part, supplier) volumes → supplier set), compiled as
    two aggregations sharing the part key plus a final LEFT SEMI join
    into the supplier dimension. The share threshold is relative, so
    the shape is scale-factor-invariant. Every intermediate is
    aggregate-sized (parts, then suppliers) — nothing row-level
    crosses a second shuffle."""
    blue = (
        tbl(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("blue"))
        .select("p_partkey")
    )
    sq = (
        tbl(spark, sf_dir, "lineitem")
        .join(F.broadcast(blue), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").try_cast(DECIMAL)).cast("double").alias("qty"))
    )
    # r14 (guide §2.4): tot used to be a separate per-part aggregate
    # joined back onto sq — the whole lineitem-join-agg subtree planned
    # twice (2 fact-table scans, no exchange reuse fired). The same
    # per-part total/nsupp as a partition-only window over sq (one row
    # per (part, supplier) — aggregate-sized) keeps it one scan; the
    # decimal-sum expression is unchanged so `total` is bit-identical.
    wp = Window.partitionBy("l_partkey")
    dominant = (
        sq.withColumn(
            "total", F.sum(F.col("qty").try_cast(DECIMAL)).over(wp).cast("double")
        )
        .withColumn("nsupp", F.count("*").over(wp))
        .filter(F.col("qty") > 2.0 * F.col("total") / F.col("nsupp"))
        .select("l_suppkey")
        .distinct()
    )
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    return (
        s.join(dominant, s.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


# --------------------------------------------------------------------------
# Supplementary: time-RANGE window frame (trailing 1-hour sum)
# --------------------------------------------------------------------------


@register(
    "window_time_range",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id
             ORDER BY (epoch_us(ts) // 1000000)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS VARCHAR) AS DOUBLE) AS trailing_1h
    FROM events
    """,
)
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user sum via a RANGE frame over event-time
    seconds — the moving-aggregate window family (B15's frame half;
    the rows-frame half is `window_running`). RANGE frames are bounded
    by the ORDER-BY value, so ties contribute symmetrically and no
    row tie-break is needed. The framed sum is decimal-cast: window
    engines accumulate frames in different associations (segment
    trees vs sliding), which double addition would expose. One shuffle
    on user_id."""
    from pyspark.sql import Window

    ev = tbl(spark, sf_dir, "events").withColumn(
        "ts_s", F.unix_timestamp("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").try_cast(DECIMAL)).over(w).cast("double").alias(
            "trailing_1h"
        ),
    )


_WTT = {
    "sa": (
        "CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN event_type = 'click'"
        " THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR)"
        " AS DOUBLE)"
    ),
    "sa2": (
        "CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN event_type = 'click'"
        " THEN value * value END AS VARCHAR) AS DECIMAL(18,6)))"
        " AS VARCHAR) AS DOUBLE)"
    ),
    "sb": (
        "CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN event_type = 'view'"
        " THEN value END AS VARCHAR) AS DECIMAL(18,6))) AS VARCHAR)"
        " AS DOUBLE)"
    ),
    "sb2": (
        "CAST(CAST(SUM(TRY_CAST(CAST(CASE WHEN event_type = 'view'"
        " THEN value * value END AS VARCHAR) AS DECIMAL(18,6)))"
        " AS VARCHAR) AS DOUBLE)"
    ),
    "t": oracle_round6("(ma - mb) / sqrt(se2)"),
    "df": oracle_round6(
        "se2 * se2 / ((va / na) * (va / na) / (na - 1)"
        " + (vb / nb) * (vb / nb) / (nb - 1))"
    ),
}


@register(
    "welch_ttest",
    oracle="""
    WITH f AS (
      SELECT event_type, value FROM events
      WHERE isfinite(value) AND event_type IN ('click', 'view')
    ), agg AS (
      SELECT
        COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS na,
        COUNT(CASE WHEN event_type = 'view'  THEN 1 END) AS nb,
        {sa} AS sa, {sa2} AS sa2, {sb} AS sb, {sb2} AS sb2
      FROM f
    ), m AS (
      SELECT na, nb,
        CASE WHEN na > 0 THEN sa / na END AS ma,
        CASE WHEN nb > 0 THEN sb / nb END AS mb,
        CASE WHEN na > 1 THEN
          CASE WHEN (sa2 - sa * sa / na) / (na - 1) > 0.0
               THEN (sa2 - sa * sa / na) / (na - 1) ELSE 0.0 END
        END AS va,
        CASE WHEN nb > 1 THEN
          CASE WHEN (sb2 - sb * sb / nb) / (nb - 1) > 0.0
               THEN (sb2 - sb * sb / nb) / (nb - 1) ELSE 0.0 END
        END AS vb
      FROM agg
    ), w AS (
      SELECT na, nb, ma, mb, va, vb,
        CASE WHEN na > 1 AND nb > 1 THEN va / na + vb / nb END AS se2
      FROM m
    )
    SELECT CAST(na AS BIGINT) AS n_click,
           CAST(nb AS BIGINT) AS n_view,
           CASE WHEN se2 > 0 THEN {t} END AS t_stat,
           CASE WHEN se2 > 0 THEN {df} END AS df_welch
    FROM w
    """.format(**_WTT),
)
def welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `welchTTest(value, sample_index)` over the 'click'
    vs 'view' samples: Welch's unequal-variance t-statistic plus the
    Welch–Satterthwaite degrees of freedom. CK returns (t, p-value);
    the p-value needs the Student-t CDF — not expressible identically
    in ANSI SQL — so this exposes (t, df), from which p is a pure
    client-side lookup; t and df are the entire data-dependent
    computation, so parity on them IS parity on the test.

    Kernel: ONE global aggregation pass (partial-aggregated
    map-side — six conditional sums/counts, no shuffle of rows, one
    exchange of a single partial-state row) followed by scalar
    arithmetic on the driver-side 1-row plan. Means and variances
    derive from decimal-exact Σx / Σx² (functions/numeric.py), so the
    doubles entering the t/df formulas — and therefore the rounded
    outputs — are bit-identical on both engines at any partitioning.
    Every division is CASE-guarded (n>1, se2>0): degenerate inputs
    (--blank/--sparse gates empty a sample) yield NULL statistics on
    both engines instead of an ANSI divide error, matching how CK
    returns nan for undersized samples."""
    f = tbl(spark, sf_dir, "events").where(
        finite("value") & F.col("event_type").isin("click", "view")
    )
    is_a = F.col("event_type") == "click"
    is_b = F.col("event_type") == "view"

    def _dsum(cond, expr):
        return F.sum(F.when(cond, expr).try_cast(DECIMAL)).cast("double")

    v = F.col("value")
    agg = f.agg(
        F.count(F.when(is_a, F.lit(1))).alias("na"),
        F.count(F.when(is_b, F.lit(1))).alias("nb"),
        _dsum(is_a, v).alias("sa"),
        _dsum(is_a, v * v).alias("sa2"),
        _dsum(is_b, v).alias("sb"),
        _dsum(is_b, v * v).alias("sb2"),
    )
    na, nb = F.col("na"), F.col("nb")
    sa, sa2 = F.col("sa"), F.col("sa2")
    sb, sb2 = F.col("sb"), F.col("sb2")
    va_raw = (sa2 - sa * sa / na) / (na - 1)
    vb_raw = (sb2 - sb * sb / nb) / (nb - 1)
    m = agg.select(
        na, nb,
        F.when(na > 0, sa / na).alias("ma"),
        F.when(nb > 0, sb / nb).alias("mb"),
        # the inner CASE mirrors the oracle's clamp-to-zero exactly
        # (greatest() would swallow the NULL of an undersized sample
        # on both engines — DuckDB and Spark greatest ignore NULLs)
        F.when(
            na > 1, F.when(va_raw > 0.0, va_raw).otherwise(F.lit(0.0))
        ).alias("va"),
        F.when(
            nb > 1, F.when(vb_raw > 0.0, vb_raw).otherwise(F.lit(0.0))
        ).alias("vb"),
    )
    va, vb = F.col("va"), F.col("vb")
    w = m.select(
        na, nb, F.col("ma"), F.col("mb"), va, vb,
        F.when((na > 1) & (nb > 1), va / na + vb / nb).alias("se2"),
    )
    se2 = F.col("se2")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(se2)
    df = (
        se2 * se2
        / (
            (va / na) * (va / na) / (na - 1)
            + (vb / nb) * (vb / nb) / (nb - 1)
        )
    )
    return w.select(
        na.cast("long").alias("n_click"),
        nb.cast("long").alias("n_view"),
        F.when(se2 > 0, F.round(t, 6)).alias("t_stat"),
        F.when(se2 > 0, F.round(df, 6)).alias("df_welch"),
    )


@register(
    "mann_whitney_utest",
    oracle="""
    WITH f AS (
      SELECT event_type, value FROM events
      WHERE isfinite(value) AND event_type IN ('click', 'view')
    ), grid AS (
      SELECT value AS v,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS ca,
             COUNT(CASE WHEN event_type = 'view'  THEN 1 END) AS cb
      FROM f GROUP BY value
    ), ranked AS (
      SELECT ca, cb, ca + cb AS c,
             SUM(ca + cb) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM grid
    ), agg AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb,
             CAST(SUM(ca * (2 * (cum - c) + c + 1)) AS BIGINT) AS r2a,
             CAST(SUM(c * c * c - c) AS BIGINT) AS tie
      FROM ranked
    ), m AS (
      SELECT na, nb, na + nb AS n,
        CASE WHEN na > 0 AND nb > 0
             THEN (r2a - na * (na + 1)) / 2.0 END AS u_a,
        CASE WHEN na + nb > 1 THEN
          na * nb / 12.0
          * ((na + nb + 1)
             - CAST(tie AS DOUBLE)
               / ((na + nb) * (na + nb - 1)))
        END AS var_u
      FROM agg
    )
    SELECT na AS n_click, nb AS n_view,
           {u} AS u_stat,
           CASE WHEN var_u > 0 AND u_a IS NOT NULL
                THEN {z} END AS z_score
    FROM m
    """.format(
        u=oracle_round6("u_a"),
        z=oracle_round6(
            "(u_a - na * nb / 2.0) / sqrt(var_u)"
        ),
    ),
)
def mann_whitney_utest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `mannWhitneyUTest(value, sample_index)` over the
    'click' vs 'view' samples: the U statistic of the first sample
    and its tie-corrected normal z-score (CK returns (u, p-value);
    the p is a client-side normal-CDF lookup on z, so u and z are
    the entire data-dependent computation — no continuity
    correction, matching the plain normal approximation).

    Kernel: rank-sums WITHOUT ranking rows. Observations collapse
    onto the distinct-value grid first (one partial-aggregated
    exchange; the fixture's cent-quantized domain bounds the grid at
    ~49k rows REGARDLESS of row count — at 100 TB the grid is still
    tiny), then one cumulative window over that bounded grid yields
    every average rank in closed form: rows at value v share rank
    C_v + (c_v+1)/2. All sums stay in BIGINT (2·R_a keeps the ½-rank
    exact), so both engines do identical integer arithmetic until
    the final guarded double division — no float-sum order
    dependence anywhere. The lone single-partition window runs over
    the bounded grid, not raw rows (plan-audit allowlisted, like
    vocab_coverage's bounded head)."""
    f = tbl(spark, sf_dir, "events").where(
        finite("value") & F.col("event_type").isin("click", "view")
    )
    grid = f.groupBy(F.col("value").alias("v")).agg(
        F.count(
            F.when(F.col("event_type") == "click", F.lit(1))
        ).alias("ca"),
        F.count(
            F.when(F.col("event_type") == "view", F.lit(1))
        ).alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = F.col("ca") + F.col("cb")
    ranked = grid.select(
        "ca", "cb", c.alias("c"), F.sum(c).over(w).alias("cum")
    )
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.sum(
            F.col("ca")
            * (2 * (F.col("cum") - F.col("c")) + F.col("c") + 1)
        )
        .cast("long")
        .alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        )
        .cast("long")
        .alias("tie"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    m = agg.select(
        na, nb,
        F.when(
            (na > 0) & (nb > 0),
            (F.col("r2a") - na * (na + 1)) / 2.0,
        ).alias("u_a"),
        F.when(
            n > 1,
            na * nb / 12.0
            * ((n + 1) - F.col("tie").cast("double") / (n * (n - 1))),
        ).alias("var_u"),
    )
    u_a, var_u = F.col("u_a"), F.col("var_u")
    return m.select(
        na.alias("n_click"),
        nb.alias("n_view"),
        F.round(u_a, 6).alias("u_stat"),
        F.when(
            (var_u > 0) & u_a.isNotNull(),
            F.round((u_a - na * nb / 2.0) / F.sqrt(var_u), 6),
        ).alias("z_score"),
    )


_CV_TERM = (
    "CAST(CAST(SUM(TRY_CAST(CAST("
    "CAST(o AS DOUBLE) * o / (ra * cb) AS VARCHAR)"
    " AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE)"
)


@register(
    "cramers_v",
    oracle="""
    WITH f AS (
      SELECT event_type AS a, EXTRACT(hour FROM ts) AS b
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), cells AS (
      SELECT a, b, COUNT(*) AS o FROM f GROUP BY a, b
    ), marg AS (
      SELECT o,
             SUM(o) OVER (PARTITION BY a) AS ra,
             SUM(o) OVER (PARTITION BY b) AS cb,
             SUM(o) OVER () AS n,
             a, b
      FROM cells
    ), red AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
             {term} AS s
      FROM marg
    ), chi AS (
      SELECT n, r, c,
             CASE WHEN n * s - n > 0 THEN n * s - n ELSE 0.0 END
               AS chi2_raw
      FROM red
    )
    SELECT n, r AS n_rows, c AS n_cols,
           CASE WHEN n > 0 THEN {chi2} END AS chi2,
           CASE WHEN n > 0 AND r > 1 AND c > 1
                THEN {v} END AS cramers_v
    FROM chi
    """.format(
        term=_CV_TERM,
        chi2=oracle_round6("chi2_raw"),
        v=oracle_round6("sqrt(chi2_raw / n / LEAST(r - 1, c - 1))"),
    ),
)
def cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse `cramersV(a, b)` between event_type and hour-of-day:
    the chi-square contingency statistic normalized to [0, 1] — "is
    event mix associated with time of day?". Uses the algebraic
    identity chi2 = n·(Σ_observed o²/(ra·cb)) − n, which makes the
    empty contingency cells' contribution implicit — no r×c
    densification, only observed cells are touched.

    Kernel: ONE real shuffle (the (a, b) cell aggregation — partial-
    aggregated, at 100 TB the cell table is |types|×24 rows no matter
    the row count); the margin windows and the final 1-row reduce run
    over that bounded cell table (plan-audit allowlisted). Per-cell
    chi-square terms are decimal(18,12)-summed so the 1-row statistic
    is order-independent and engine-identical; counts stay integer to
    that point. Guards: chi2 NULL on empty input, V additionally NULL
    for degenerate 1×c / r×1 tables (CK returns nan there)."""
    f = tbl(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    cells = f.groupBy(
        F.col("event_type").alias("a"), F.hour("ts").alias("b")
    ).agg(F.count("*").alias("o"))
    marg = cells.select(
        "o",
        F.sum("o").over(Window.partitionBy("a")).alias("ra"),
        F.sum("o").over(Window.partitionBy("b")).alias("cb"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
        "a", "b",
    )
    o = F.col("o")
    red = marg.agg(
        F.max("n").cast("long").alias("n"),
        F.count_distinct("a").cast("long").alias("r"),
        F.count_distinct("b").cast("long").alias("c"),
        F.sum(
            (o.cast("double") * o / (F.col("ra") * F.col("cb")))
            .try_cast("decimal(18,12)")
        )
        .cast("double")
        .alias("s"),
    )
    n, r, c = F.col("n"), F.col("r"), F.col("c")
    chi2_raw = n * F.col("s") - n
    chi = red.select(
        n, r, c,
        F.when(chi2_raw > 0, chi2_raw).otherwise(F.lit(0.0)).alias(
            "chi2_raw"
        ),
    )
    cr = F.col("chi2_raw")
    return chi.select(
        n,
        r.alias("n_rows"),
        c.alias("n_cols"),
        F.when(n > 0, F.round(cr, 6)).alias("chi2"),
        F.when(
            (n > 0) & (r > 1) & (c > 1),
            F.round(
                F.sqrt(cr / n / F.least(r - 1, c - 1)), 6
            ),
        ).alias("cramers_v"),
    )
