"""Remaining TPC-H query shapes over the driver test tables.

Round-1 landed Q1/Q3/Q5/Q12/Q13/Q14/Q16/Q17/Q18 shapes; this module adds the
rest of the suite's *distinct optimizer shapes* (Q4 EXISTS-semi, Q6 pure
scan-agg, Q7 OR-pair multi-join, Q8 conditional market share, Q10 group-by-many
top-k, Q11 HAVING-over-global-scalar, Q15 max-scalar-subquery view, Q19
disjunctive OR-of-ANDs pushdown, Q21 semi+anti self-join, Q22 anti-join with
scalar-average gate). Columns the testdata lacks (l_commitdate, l_receiptdate,
c_phone, p_container, partsupp) are substituted with equivalent predicates on
existing columns — the *plan shape* (what Catalyst must do: decorrelate,
push down, choose join strategies) is preserved, which is what these queries
exist to pin.

Scale notes: every query here is shuffle-minimal for its shape — dims
(nation/region/part slices/supplier) broadcast; the only big-side shuffles are
the aggregations' own key shuffles, and self-joins on lineitem hash on
l_orderkey (co-partitioned both sides). At 100 TB the same plans hold with
fact tables bucketed by orderkey (SCALE.md §relational).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fefal_etl_spark.datasets import load_table
from fefal_etl_spark.queries import register

# exact, order-insensitive revenue term: 2-dec price × trailing-2-dec discount
REV = "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS DOUBLE)"


def _rev(price="l_extendedprice", disc="l_discount") -> F.Column:
    return (
        F.sum((F.col(price) * (1 - F.col(disc))).cast("decimal(24,4)"))
        .cast("double")
    )


# ==========================================================================
# Q4 shape — EXISTS correlated subquery → left-semi join
# ==========================================================================


@register(
    "order_priority_check",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 120 DAY)
    GROUP BY o_orderpriority
    """,
    memo=True,
)
def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS correlated subquery (late-line orders per
    priority; receiptdate>commitdate substituted by ship-lag>120d on the
    columns the testdata has). The DataFrame form is an explicit
    ``left_semi`` join — exactly what Catalyst decorrelates EXISTS into —
    so the big side streams once and duplicates never multiply the count.
    Scale: semi join hashes on l_orderkey/o_orderkey only; the date filter
    prunes the orders scan (PushedFilters)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 120 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ==========================================================================
# Q6 shape — pure scan + filter + global agg (pushdown showcase)
# ==========================================================================


@register(
    "forecast_revenue_change",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    memo=True,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the canonical predicate-pushdown query: no join, every
    filter lands in ``PushedFilters`` on the parquet scan, 4 of 11 columns
    read, then a single partial+final agg. At 100 TB this is the shape where
    columnar pruning + pushdown dominate: the scan reads only
    shipdate/discount/quantity/extendedprice pages and row groups whose
    min/max stats survive the date range."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(24,4)"))
            .cast("double")
            .alias("revenue")
        )
    )


# ==========================================================================
# Q7 shape — two-nation volume shipping (OR of nation pairs, year extract)
# ==========================================================================


@register(
    "volume_shipping",
    f"""
    SELECT supp_nation, cust_nation, l_year, {REV.replace('l_extendedprice', 'volume').replace('(1 - l_discount)', '1')} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    memo=True,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — multi-join with an OR-of-nation-pairs predicate and
    a year() extraction in the group key. Both nation sides broadcast; the
    pair predicate is applied after the two broadcast lookups, so the only
    shuffles are lineitem⋈orders (orderkey) and the final 2×2×2-group agg.
    Scale: supplier and customer also broadcast at any realistic dim size;
    the orderkey join is the single big shuffle and co-partitions with a
    bucketed layout."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(F.col("volume").cast("decimal(24,4)")).cast("double").alias("revenue"))
    )


# ==========================================================================
# Q8 shape — market share (conditional agg ratio per year)
# ==========================================================================


@register(
    "nation_market_share",
    """
    SELECT o_year,
           CAST(round(
               SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                        AS DECIMAL(24,4)))
               / SUM(CAST(volume AS DECIMAL(24,4))), 6) AS DOUBLE) AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE'
          AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
    memo=True,
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — market share of one supplier nation inside one
    customer region: CASE-gated numerator over the same grouped sum
    denominator, per order year. The share division happens once per group
    (2 rows), on exact DECIMAL sums, so the double result is deterministic.
    Scale: part/supplier/customer/nation/region all broadcast; lineitem⋈
    orders is again the one real shuffle. The p_type filter prunes part
    before broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.col("volume"))
        .otherwise(F.lit(0.0))
        .cast("decimal(24,4)")
    )
    den = F.sum(F.col("volume").cast("decimal(24,4)"))
    return base.groupBy("o_year").agg(
        F.round(num / den, 6).cast("double").alias("mkt_share")
    )


# ==========================================================================
# Q10 shape — returned-item top customers (wide group key + ordered limit)
# ==========================================================================


@register(
    "returned_item_customers",
    f"""
    SELECT c_custkey, c_name, {REV} AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    memo=True,
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — lost-revenue ranking: wide (4-column) group key,
    exact DECIMAL revenue, then a deterministic top-20 (revenue DESC,
    custkey ASC tiebreak — TPC-H itself under-specifies ties; the tiebreak
    makes the hash comparable). Spark plans the limit as TakeOrderedAndProject
    — no global sort materialization at any scale.
    Scale: nation broadcast; customer⋈orders and orders⋈lineitem shuffle on
    their keys; returnflag+date filters pushed."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_rev().alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ==========================================================================
# Q11 shape — HAVING over a global-scalar subquery
# ==========================================================================


@register(
    "important_part_values",
    """
    WITH rv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,4))) AS value_dec
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AFRICA'
        GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM rv
    WHERE value_dec * 1000 > (SELECT SUM(value_dec) FROM rv)
    """,
    memo=True,
)
def q_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — per-group value filtered against a *global* scalar
    (fraction of the grand total). The grand total is the sum of the
    per-part sums — one extra single-row agg over the already-grouped frame,
    broadcast back as a literal-free crossJoin (the same agg+broadcast shape
    A2 rescale uses; no single-partition window). The grouped frame is
    computed once and reused for both sides of the comparison. The
    "fraction of total" gate is the exact multiply-compare
    ``value_dec * 1000 > SUM(value_dec)`` in DECIMAL on both engines —
    multiplying by a double 0.001 would promote the threshold to double
    and a part within ~1 ulp could flip membership between engines (the
    same convention dormant_customer_balances follows).
    Scale: one shuffle for the partkey agg; the scalar side is one row."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AFRICA")
    per_part = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(24,4)"
                )
            ).alias("value_dec")
        )
    )
    total = per_part.agg(F.sum("value_dec").alias("__grand_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_dec") * F.lit(1000) > F.col("__grand_total"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


# ==========================================================================
# Q15 shape — max-scalar-subquery over a derived revenue view
# ==========================================================================


@register(
    "top_supplier_revenue",
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no, {REV} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    memo=True,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — derived revenue view consumed twice: once joined
    back to supplier, once reduced to its max for the equality gate. The
    DECIMAL-exact revenue makes the max comparison safe (double max-equality
    over reordered float sums would be flaky). Same agg+broadcast-scalar
    shape as Q11 — the view is built once.
    Scale: one suppkey shuffle for the view; supplier broadcast; max is a
    single-row agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(24,4)")
        ).alias("__rev_dec")
    )
    best = revenue.agg(F.max("__rev_dec").alias("__best"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best))
        .filter(F.col("__rev_dec") == F.col("__best"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("__rev_dec").cast("double").alias("total_revenue"),
        )
    )


# ==========================================================================
# Q19 shape — disjunctive OR-of-ANDs predicate pushdown
# ==========================================================================


@register(
    "disjunctive_bracket_revenue",
    f"""
    SELECT {REV} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    memo=True,
)
def q_disjunctive_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — three OR'd conjunction brackets mixing build-side
    (part) and stream-side (lineitem) columns. Catalyst extracts the
    common single-side implications (brand IN (...), size ≤ 15, quantity
    1–30) and pushes them below the join as scan filters, keeping only the
    cross-side residual on the join — the optimization this query exists to
    test. Part side broadcast after its brand/size prefilter.
    Scale: one broadcast join, zero shuffles beyond the final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
    bracket = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return joined.filter(bracket).agg(_rev().alias("revenue"))


# ==========================================================================
# Q21 shape — semi + anti self-join (suppliers who alone shipped late)
# ==========================================================================


@register(
    "suppliers_kept_waiting",
    """
    WITH late AS (
        SELECT l_orderkey, l_suppkey
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
          AND l_shipdate > o_orderdate + INTERVAL 120 DAY
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    memo=True,
)
def q_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — the hardest join topology in the suite: a base set
    (this supplier shipped late on a finished order), an EXISTS (someone
    else was on the order) and a NOT EXISTS (nobody else was late). Both
    correlated subqueries become self-joins of lineitem keyed on l_orderkey:
    a left_semi with a ≠-residual and a left_anti with the same. All three
    legs hash-partition on l_orderkey, so at scale this is three
    co-partitioned shuffles of the same key (one reusable exchange) — never
    a cartesian. receiptdate>commitdate is substituted by ship-lag>120d.
    Deterministic top-10: numwait DESC, s_name ASC."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    # Round 12 (guide §2.3 aggregate-before-shuffle, §2.4 remove
    # shuffles): the former plan scanned lineitem THREE times (the late
    # pairs, an EXISTS ≠-residual semi-join, a NOT-EXISTS ≠-residual
    # anti-join). Both correlated predicates are per-order AGGREGATES —
    #   ∃ other supplier on the order  ⇔  min(l_suppkey) ≠ max(l_suppkey)
    #   ∄ other LATE supplier          ⇔  exactly ONE distinct late
    #                                     supplier on the order (the
    #                                     base row's own — it is late)
    # — and an order's other lineitems share its F status, so ONE scan
    # joined to the F orders and ONE groupBy(l_orderkey) computes
    # everything: min/max suppkey plus the distinct late-supplier set
    # (collect_set; bounded by suppliers-per-order, ≤ 7 in TPC-H shape).
    # An order survives iff its late set is exactly one supplier and it
    # has ≥ 2 distinct suppliers; the surviving (order, supplier) rows
    # are precisely the old base pairs. Result identical (oracle
    # hash ==); 3 lineitem passes → 1, two ≠-residual joins → 0.
    late_supp = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 120 DAY"),
        F.col("l_suppkey"),
    )
    per_order = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("__s_min"),
            F.max("l_suppkey").alias("__s_max"),
            F.collect_set(late_supp).alias("__late_set"),
        )
    )
    base = per_order.filter(
        (F.size("__late_set") == 1) & (F.col("__s_min") != F.col("__s_max"))
    ).select(
        "l_orderkey", F.element_at("__late_set", 1).alias("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        base.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


# ==========================================================================
# Q22 shape — anti join gated by a scalar-average subquery
# ==========================================================================


@register(
    "dormant_customer_balances",
    """
    WITH pool AS (
        SELECT substring(c_name, length(c_name), 1) AS cust_group, c_acctbal, c_custkey
        FROM customer
        WHERE substring(c_name, length(c_name), 1) IN ('1','3','5','7','9')
    ),
    gate AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
               count(*) AS bal_cnt
        FROM pool WHERE c_acctbal > 0.0
    )
    SELECT cust_group,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM pool, gate
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * bal_cnt > bal_sum
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = pool.c_custkey
                        AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY cust_group
    """,
    memo=True,
)
def q_dormant_customer_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — above-average-balance customers with no *recent*
    orders (dormant since 1999; every testdata customer has some order),
    grouped by a code extracted from a string column (phone country code
    substituted by the last digit of c_name, which the testdata has). Three
    plan features: a scalar AVG subquery broadcast as a one-row gate, a
    left_anti join against orders (NOT EXISTS), and substring extraction in
    the group key. The "balance above average" gate is expressed as the
    exact multiply-compare ``bal × count > sum`` over DECIMAL sums rather
    than a double division — Spark's partition-order-dependent double AVG
    could flip a boundary row vs the oracle's sequential sum.
    Scale: anti join hashes on custkey; the scalar side is one row."""
    cust = load_table(spark, sf_dir, "customer")
    digit = F.substring(F.col("c_name"), -1, 1)
    codes = ("1", "3", "5", "7", "9")
    pool = cust.filter(digit.isin(*codes)).select(
        digit.alias("cust_group"), "c_acctbal", "c_custkey"
    )
    gate = pool.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("__bal_sum"),
        F.count(F.lit(1)).alias("__bal_cnt"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        .select(F.col("o_custkey").alias("__o_custkey"))
    )
    return (
        pool.join(F.broadcast(gate))
        .filter(
            F.col("c_acctbal").cast("decimal(18,2)") * F.col("__bal_cnt")
            > F.col("__bal_sum")
        )
        .join(orders, F.col("__o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("cust_group")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


# ==========================================================================
# Q2 shape — correlated MIN subquery over a join (min-cost supplier)
# ==========================================================================


@register(
    "min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey AS partkey, s_suppkey, s_name, s_acctbal, n_name
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pl
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM part JOIN cost ON partkey = p_partkey
    WHERE p_size <= 3
      AND s_acctbal = (SELECT min(c2.s_acctbal) FROM cost c2
                       WHERE c2.partkey = p_partkey)
    ORDER BY p_partkey, s_suppkey
    """,
    memo=True,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — correlated MIN subquery whose correlation runs over
    a JOIN (per-part minimum supplier balance over the distinct
    part-supplier relationship; partsupp's ps_supplycost substituted by
    s_acctbal on the tables the testdata has). Catalyst decorrelates into
    a per-part aggregate joined back — the cost relation is built once and
    consumed by both the probe and the min side. Equality on the raw
    column (no arithmetic) is float-safe. Deterministic order for ties:
    (p_partkey, s_suppkey) on BOTH engines, with s_suppkey in the output —
    a tiebreak column the harness's order-insensitive compare can't see
    would silently diverge the day a LIMIT or an order-sensitive check is
    added (ADVICE r2). 2-dec balances make exact min-equality ties
    possible and both engines keep every tied supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    # Round 12 (guide §3.2 pre-filter the big side, §2.3 aggregate
    # before shuffle): the per-part minimum is INDEPENDENT of the part
    # filter, so the selective p_size gate broadcast-semi-joins into the
    # lineitem scan first (the cost relation shrinks ~16× before its
    # distinct), and the min + the argmin rows come out of ONE
    # aggregation — min(s_acctbal) alongside a collect_list of the
    # part's supplier rows (bounded by suppliers-per-part), filtered to
    # the tied minimum and exploded — instead of building the cost
    # relation twice (probe + min legs) and equality-joining them back.
    # 2 lineitem passes → 1; min-equality tie semantics unchanged
    # (oracle hash ==).
    pl = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select(F.col("l_partkey").alias("partkey"), "l_suppkey")
        .distinct()
    )
    cost = (
        pl.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    grouped = cost.groupBy("partkey").agg(
        F.min("s_acctbal").alias("__min_bal"),
        F.collect_list(
            F.struct("s_suppkey", "s_name", "s_acctbal", "n_name")
        ).alias("__cs"),
    )
    winners = grouped.select(
        "partkey",
        F.explode(
            F.filter(
                F.col("__cs"), lambda c: c["s_acctbal"] == F.col("__min_bal")
            )
        ).alias("__w"),
    )
    return (
        winners.join(
            F.broadcast(part), F.col("partkey") == F.col("p_partkey")
        )
        .select(
            "p_partkey",
            "p_name",
            F.col("__w.s_suppkey").alias("s_suppkey"),
            F.col("__w.s_name").alias("s_name"),
            F.col("__w.n_name").alias("n_name"),
            F.col("__w.s_acctbal").cast("double").alias("s_acctbal"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


# ==========================================================================
# Q20 shape — nested semi-joins gated by an aggregated threshold
# ==========================================================================


@register(
    "excess_stock_suppliers",
    """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey, l_partkey
    ),
    green AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
    heavy AS (
        SELECT DISTINCT l_suppkey FROM shipped
        JOIN green ON p_partkey = l_partkey
        WHERE qty > 50
    )
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM heavy WHERE heavy.l_suppkey = s_suppkey)
    ORDER BY s_name
    """,
    memo=True,
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested subquery chain collapsed into semi-joins:
    suppliers who shipped > 50 units of any red-named part in 1996
    (partsupp availability substituted by shipped quantity). The inner
    part-name filter semi-joins into the aggregated (supp, part) frame,
    then the distinct supplier set semi-joins into supplier — the big
    lineitem fact is aggregated ONCE and never re-scanned per supplier
    (what naive nested-IN execution would do)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty")
    )
    heavy = (
        shipped.join(
            F.broadcast(part.select("p_partkey")),
            F.col("p_partkey") == F.col("l_partkey"),
            "left_semi",
        )
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# ==========================================================================
# Q9 shape — product-type profit by nation and year
# ==========================================================================


@register(
    "product_type_profit",
    """
    SELECT n_name AS nation, o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))
              - SUM(CAST(p_retailprice * l_quantity AS DECIMAL(28,4)))
              AS DOUBLE) AS profit
    FROM (
        SELECT n_name, year(o_orderdate) AS o_year,
               l_extendedprice, l_discount, p_retailprice, l_quantity
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%blue%'
    ) profit_rows
    GROUP BY nation, o_year
    """,
    memo=True,
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by supplier nation and order
    year: 5-way join with a part-name LIKE filter, revenue minus cost as
    two separately-DECIMAL-exact sums (no per-row mixed-scale arithmetic
    to diverge between engines; partsupp's supplycost substituted by
    p_retailprice × quantity). part prefiltered by the LIKE before its
    broadcast; lineitem⋈orders is the one big shuffle; 25×n_years groups.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    )
    cost = F.sum((F.col("p_retailprice") * F.col("l_quantity")).cast("decimal(28,4)"))
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((rev - cost).cast("double").alias("profit"))
    )
