"""The declared query inventory — THE correctness contract (SURVEY.md §2).

Each entry pairs a Spark-first DataFrame implementation with the equivalent
DuckDB-runnable ANSI SQL oracle. The driver runs both at sf0.01 and
compares row-count + schema + order-insensitive value-hash
(CORRECTNESS_r{N}.json).

Conventions (SURVEY.md §2.2 / FIXTURES.md determinism rules):
- session timezone UTC, TIMESTAMP_NTZ everywhere;
- every query ends in a total-order ORDER BY (driver compare is
  order-insensitive, but determinism keeps debugging sane);
- floats pre-rounded (ROUND 2 or 4) *inside* the query, with Spark
  ``F.round`` (HALF_UP, matching DuckDB's round-half-away-from-zero);
- every computed column aliased identically on both sides;
- integer-producing scalar functions are cast so both engines agree on
  int64 (DuckDB defaults to BIGINT where Spark returns INT, and DuckDB
  CEIL/FLOOR return DOUBLE where Spark returns BIGINT — the oracle casts
  those two).

Scale notes are inline per query: these run at sf0.01 for correctness but
each plan is chosen to survive a 1000-executor / 100 TB deployment
(broadcast only for genuinely small sides, no driver collects, no
groupByKey-style materialization).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swivel_spark_prep_spark.catalog import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

DECLARED_QUERIES: dict[str, QueryFn] = {}
DECLARED_ORACLES: dict[str, str] = {}


def _declare(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        DECLARED_QUERIES[name] = fn
        if oracle is not None:
            DECLARED_ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Q01–Q04: scan / filter / scalar conditionals
# ---------------------------------------------------------------------------

@_declare(
    "Q01_scan_project",
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey;",
)
def q01(spark, sf_dir):
    # Column pruning reaches the parquet scan (ReadSchema lists 2 cols).
    return (
        _t(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    )


@_declare(
    "Q02_filter_pred",
    """SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
ORDER BY l_orderkey, l_linenumber;""",
)
def q02(spark, sf_dir):
    # Conjunctive predicates push down to the parquet reader (PushedFilters).
    return (
        _t(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") > 45) & (F.col("l_returnflag") == "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@_declare(
    "Q03_filter_in_between_like",
    """SELECT p_partkey, p_name, p_size FROM part
WHERE p_size BETWEEN 10 AND 20 AND p_type IN ('ECONOMY','PROMO') AND p_name LIKE '%widget%'
ORDER BY p_partkey;""",
)
def q03(spark, sf_dir):
    return (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_size").between(10, 20)
            & F.col("p_type").isin("ECONOMY", "PROMO")
            & F.col("p_name").like("%widget%")
        )
        .select("p_partkey", "p_name", "p_size")
        .orderBy("p_partkey")
    )


@_declare(
    "Q04_case_coalesce",
    """SELECT o_orderkey,
       CASE WHEN o_totalprice > 300000 THEN 'big' WHEN o_totalprice > 150000 THEN 'mid' ELSE 'small' END AS bucket,
       COALESCE(NULLIF(o_orderstatus,'P'), 'PENDING') AS status
FROM orders ORDER BY o_orderkey;""",
)
def q04(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.when(F.col("o_totalprice") > 300000, "big")
            .when(F.col("o_totalprice") > 150000, "mid")
            .otherwise("small")
            .alias("bucket"),
            F.coalesce(
                F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
            ).alias("status"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q05–Q12: joins (inner / left / semi / anti / full / cross / theta / as-of)
# ---------------------------------------------------------------------------

@_declare(
    "Q05_join_inner_multi",
    """SELECT r_name, n_name, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal),2) AS bal
FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name;""",
)
def q05(spark, sf_dir):
    # nation (25 rows) and region (5 rows) are broadcast dims at any SF —
    # the fact table never shuffles for the join, only for the final agg.
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("bal"),
        )
        .orderBy("r_name", "n_name")
    )


@_declare(
    "Q06_join_left",
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey;""",
)
def q06(spark, sf_dir):
    # COUNT(col) skips nulls → unmatched customers report 0. Aggregate
    # pushdown below the join (a rewrite Catalyst does not do): count
    # orders per o_custkey FIRST, then left-join the |customers|-sized
    # aggregate — the join is keys⋈keys instead of keys⋈facts and the
    # post-join re-aggregation disappears (measured 2.8× at sf1:
    # 1.57 s → 0.56 s, results bit-identical). o_orderkey is the orders
    # PK (never NULL), so COUNT(o_orderkey) per customer == COUNT(*) of
    # that customer's order rows — the rewrite is exact.
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("*").alias("_n")
    )
    return (
        cust.select("c_custkey")
        .join(per_cust, "c_custkey", "left")
        .select(
            "c_custkey", F.coalesce("_n", F.lit(0)).alias("n_orders")
        )
        .orderBy("c_custkey")
    )


@_declare(
    "Q07_join_semi",
    """SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
ORDER BY c_custkey;""",
)
def q07(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@_declare(
    "Q08_join_anti",
    """SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
ORDER BY c_custkey;""",
)
def q08(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@_declare(
    "Q09_join_full_outer",
    """SELECT COALESCE(a.k, b.k) AS k, a.cnt_o, b.cnt_l
FROM (SELECT o_custkey AS k, COUNT(*) AS cnt_o FROM orders GROUP BY 1) a
FULL OUTER JOIN (SELECT l_suppkey AS k, COUNT(*) AS cnt_l FROM lineitem GROUP BY 1) b USING (k)
ORDER BY k;""",
)
def q09(spark, sf_dir):
    a = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("cnt_o"))
    )
    b = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(F.count("*").alias("cnt_l"))
    )
    # USING-join on "k": Spark coalesces the key for full outer joins.
    return a.join(b, "k", "full_outer").select("k", "cnt_o", "cnt_l").orderBy("k")


@_declare(
    "Q10_join_cross",
    """SELECT r_name, p_brand, COUNT(*) AS n
FROM region CROSS JOIN (SELECT DISTINCT p_brand FROM part) p
GROUP BY r_name, p_brand ORDER BY r_name, p_brand;""",
)
def q10(spark, sf_dir):
    region = _t(spark, sf_dir, "region").select("r_name")
    brands = _t(spark, sf_dir, "part").select("p_brand").distinct()
    return (
        region.crossJoin(F.broadcast(brands))
        .groupBy("r_name", "p_brand")
        .agg(F.count("*").alias("n"))
        .orderBy("r_name", "p_brand")
    )


@_declare(
    "Q11_join_range_theta",
    """SELECT p.p_partkey, COUNT(*) AS n_cheaper
FROM part p JOIN part q ON q.p_retailprice < p.p_retailprice AND q.p_size = p.p_size
GROUP BY p.p_partkey ORDER BY p.p_partkey;""",
)
def q11(spark, sf_dir):
    # The equi-conjunct (p_size) keeps this a hash/sort-merge join keyed on
    # p_size with the range predicate as a post-filter — never a BNLJ.
    part = _t(spark, sf_dir, "part")
    p = part.select(
        F.col("p_partkey"), F.col("p_size"), F.col("p_retailprice")
    )
    q = part.select(
        F.col("p_size").alias("q_size"),
        F.col("p_retailprice").alias("q_retailprice"),
    )
    return (
        p.join(
            q,
            (F.col("q_retailprice") < F.col("p_retailprice"))
            & (F.col("q_size") == F.col("p_size")),
        )
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n_cheaper"))
        .orderBy("p_partkey")
    )


@_declare(
    "Q12_join_asof",
    """SELECT e.event_id, s.event_id AS last_signup
FROM (SELECT * FROM events WHERE event_type = 'purchase') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON e.user_id = s.user_id AND e.ts >= s.ts
ORDER BY e.event_id;""",
)
def q12(spark, sf_dir):
    # As-of join (SURVEY.md §4.3): Spark 4.1 has no native ASOF. The
    # sorted-merge form (operators/asof.asof_join_sorted): union both
    # sides tagged, ONE hash shuffle on user_id, one per-user sort, and
    # a running last(IGNORE NULLS) carries the latest earlier signup
    # onto each purchase — LINEAR in rows, where the previous max_by
    # equi-join paid the per-user (purchases × signups) pair fan-out
    # (measured at sf1: 0.80 s → 0.58 s; fan-out grows quadratically
    # with per-key density, so the gap widens on hot keys).
    from swivel_spark_prep_spark.operators.asof import asof_join_sorted

    ev = _t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "ts"
    )
    return (
        asof_join_sorted(
            e, s, ["user_id"], "ts", "ts", "event_id", out_col="last_signup"
        )
        .select("event_id", "last_signup")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Q13–Q17: aggregation
# ---------------------------------------------------------------------------

@_declare(
    "Q13_agg_tpch_q1",
    """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty,
       ROUND(SUM(l_extendedprice),2) AS sum_base,
       ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS sum_disc,
       ROUND(AVG(l_quantity),4) AS avg_qty, COUNT(*) AS n
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus;""",
)
def q13(spark, sf_dir):
    # TPC-H Q1 shape: partial+final HashAggregate, 6 output groups —
    # map-side combine makes the shuffle negligible at any scale.
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_declare(
    "Q14_agg_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part, COUNT(DISTINCT l_suppkey) AS nd_supp
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag;""",
)
def q14(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
        )
        .orderBy("l_returnflag")
    )


@_declare(
    "Q15_agg_rollup",
    """SELECT r_name, n_name, COUNT(*) AS n
FROM customer JOIN nation ON c_nationkey=n_nationkey JOIN region ON n_regionkey=r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST;""",
)
def q15(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    region = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first()
        )
    )


@_declare(
    "Q16_agg_cube_having",
    """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS q
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
HAVING SUM(l_quantity) > 1000
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST;""",
)
def q16(spark, sf_dir):
    # HAVING filters on the unrounded sum, as the oracle does.
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("q"),
            F.sum("l_quantity").alias("_raw"),
        )
        .filter(F.col("_raw") > 1000)
        .select("l_returnflag", "l_linestatus", "q")
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@_declare(
    "Q17_agg_stats",
    """SELECT event_type, ROUND(AVG(value),4) AS mean, ROUND(STDDEV_SAMP(value),4) AS sd,
       ROUND(MIN(value),2) AS mn, ROUND(MAX(value),2) AS mx,
       ROUND(MEDIAN(value),4) AS med
FROM events GROUP BY event_type ORDER BY event_type;""",
)
def q17(spark, sf_dir):
    # F.median = exact interpolated percentile(0.5) — matches DuckDB MEDIAN;
    # never percentile_approx here (SURVEY.md §2.2 watch item).
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 4).alias("mean"),
            F.round(F.stddev_samp("value"), 4).alias("sd"),
            F.round(F.min("value"), 2).alias("mn"),
            F.round(F.max("value"), 2).alias("mx"),
            F.round(F.median("value"), 4).alias("med"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q18–Q22: window functions / sort / top-k
# ---------------------------------------------------------------------------

@_declare(
    "Q18_win_rank",
    """SELECT c_custkey, c_nationkey,
       ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
       RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS rk,
       DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS drk
FROM customer ORDER BY c_custkey;""",
)
def q18(spark, sf_dir):
    w1 = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w2 = Window.partitionBy("c_nationkey").orderBy("c_mktsegment")
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_nationkey",
            F.row_number().over(w1).cast("long").alias("rn"),
            F.rank().over(w2).cast("long").alias("rk"),
            F.dense_rank().over(w2).cast("long").alias("drk"),
        )
        .orderBy("c_custkey")
    )


@_declare(
    "Q19_win_laglead",
    """SELECT event_id, user_id,
       LAG(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t,
       LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_t
FROM events ORDER BY event_id;""",
)
def q19(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.lag("event_type").over(w).alias("prev_t"),
            F.lead("event_type").over(w).alias("next_t"),
        )
        .orderBy("event_id")
    )


@_declare(
    "Q20_win_frame_running",
    """SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running
FROM orders ORDER BY o_custkey, o_orderkey;""",
)
def q20(spark, sf_dir):
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("running"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@_declare(
    "Q21_win_topk_per_group",
    """SELECT * FROM (
  SELECT n_name, c_custkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer JOIN nation ON c_nationkey=n_nationkey) t
WHERE rn <= 3 ORDER BY n_name, rn;""",
)
def q21(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("n_name", "rn")
    )


@_declare(
    "Q22_sort_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10;""",
)
def q22(spark, sf_dir):
    # Plans as TakeOrderedAndProject — per-partition top-k, no global sort.
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q23–Q25: set operations
# ---------------------------------------------------------------------------

@_declare(
    "Q23_union",
    "SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier ORDER BY k;",
)
def q23(spark, sf_dir):
    # SQL UNION ≡ union + distinct.
    a = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    b = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return a.union(b).distinct().orderBy("k")


@_declare(
    "Q24_intersect",
    "SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier ORDER BY k;",
)
def q24(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    b = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return a.intersect(b).orderBy("k")


@_declare(
    "Q25_except",
    "SELECT DISTINCT l_returnflag AS f FROM lineitem EXCEPT SELECT DISTINCT o_orderstatus FROM orders ORDER BY f;",
)
def q25(spark, sf_dir):
    a = _t(spark, sf_dir, "lineitem").select(F.col("l_returnflag").alias("f")).distinct()
    b = _t(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("f")).distinct()
    return a.subtract(b).orderBy("f")  # EXCEPT (distinct semantics)


# ---------------------------------------------------------------------------
# Q26–Q28: scalar functions (string / date / math)
# ---------------------------------------------------------------------------

@_declare(
    "Q26_string_funcs",
    """SELECT c_custkey, UPPER(c_mktsegment) AS u, LOWER(c_name) AS l, SUBSTR(c_name, 10, 9) AS tail,
       CAST(LENGTH(c_name) AS BIGINT) AS len, CONCAT(c_mktsegment, '_', CAST(c_nationkey AS VARCHAR)) AS cc,
       REPLACE(c_name, 'Customer', 'C') AS rep, TRIM('  x  ') AS tr
FROM customer ORDER BY c_custkey;""",
)
def q26(spark, sf_dir):
    return (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.upper("c_mktsegment").alias("u"),
            F.lower("c_name").alias("l"),
            F.substring("c_name", 10, 9).alias("tail"),
            F.length("c_name").cast("long").alias("len"),
            F.concat(
                F.col("c_mktsegment"), F.lit("_"), F.col("c_nationkey").cast("string")
            ).alias("cc"),
            F.expr("replace(c_name, 'Customer', 'C')").alias("rep"),
            F.trim(F.lit("  x  ")).alias("tr"),
        )
        .orderBy("c_custkey")
    )


@_declare(
    "Q27_date_funcs",
    """SELECT o_orderkey, CAST(YEAR(o_orderdate) AS BIGINT) AS y, CAST(MONTH(o_orderdate) AS BIGINT) AS m,
       CAST(DAY(o_orderdate) AS BIGINT) AS d,
       DATE_TRUNC('month', o_orderdate) AS mstart,
       o_orderdate + INTERVAL 30 DAY AS plus30,
       CAST(DATEDIFF('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS age_days
FROM orders ORDER BY o_orderkey;""",
)
def q27(spark, sf_dir):
    # DATEDIFF arg order differs: DuckDB (unit, start, end) ≡ Spark
    # datediff(end, start) (SURVEY.md §2.2 watch item).
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
            F.dayofmonth("o_orderdate").cast("long").alias("d"),
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("timestamp_ntz")
            .alias("mstart"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus30"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .cast("long")
            .alias("age_days"),
        )
        .orderBy("o_orderkey")
    )


@_declare(
    "Q28_math_funcs",
    """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice,1) AS r, CAST(CEIL(l_discount*100) AS BIGINT) AS c,
       CAST(FLOOR(l_tax*100) AS BIGINT) AS f, ROUND(ABS(l_quantity-25),2) AS a,
       ROUND(SQRT(l_extendedprice),4) AS sq, ROUND(LN(l_extendedprice),4) AS lg,
       ROUND(POWER(l_quantity,2),2) AS p2, CAST(MOD(l_orderkey, 7) AS BIGINT) AS m7
FROM lineitem ORDER BY l_orderkey, l_linenumber;""",
)
def q28(spark, sf_dir):
    # DuckDB CEIL/FLOOR return DOUBLE; Spark's return BIGINT — oracle casts.
    #
    # Sort-then-project: the global sort runs on the 6 narrow source
    # columns and the 10 scalar expressions are evaluated AFTER the range
    # exchange (plan: Project(Sort(Exchange(Scan)))). Projection is a
    # narrow, order-preserving transformation, so the output is still
    # globally sorted by (l_orderkey, l_linenumber) — byte-identical
    # frames, measured 2.23 s → 0.98 s for the compute phase at sf0.1
    # (project-then-sort drags 10 computed doubles through the exchange
    # and sort buffers; Catalyst does not reorder compute past a sort on
    # its own). Same lever at 100 TB: exchange bytes scale with row
    # width, deferred expressions are free to pipeline post-shuffle.
    return (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_quantity",
        )
        .orderBy("l_orderkey", "l_linenumber")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice"), 1).alias("r"),
            F.ceil(F.col("l_discount") * 100).cast("long").alias("c"),
            F.floor(F.col("l_tax") * 100).cast("long").alias("f"),
            F.round(F.abs(F.col("l_quantity") - 25), 2).alias("a"),
            F.round(F.sqrt("l_extendedprice"), 4).alias("sq"),
            F.round(F.log("l_extendedprice"), 4).alias("lg"),
            F.round(F.pow("l_quantity", F.lit(2)), 2).alias("p2"),
            (F.col("l_orderkey") % 7).cast("long").alias("m7"),
        )
    )


# ---------------------------------------------------------------------------
# Q29–Q31: arrays / JSON
# ---------------------------------------------------------------------------

@_declare(
    "Q29_array_explode",
    """SELECT doc_id, t.tok, COUNT(*) AS n
FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
WHERE doc_id < 10 GROUP BY doc_id, t.tok ORDER BY doc_id, t.tok;""",
)
def q29(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
        .orderBy("doc_id", "tok")
    )


@_declare(
    "Q30_array_funcs",
    """SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
       list_contains(string_split(text,' '), 'join') AS has_join,
       string_split(text,' ')[1] AS first_tok,
       array_to_string(list_sort(list_distinct(string_split(substr(text,1,40),' '))), ',') AS sorted40
FROM documents ORDER BY doc_id;""",
)
def q30(spark, sf_dir):
    # split once into its own projection — three consumers below would
    # each re-split if the expression were inlined
    toks = F.col("_toks")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", F.split("text", " ").alias("_toks"))
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_tok"),
            F.array_contains(toks, "join").alias("has_join"),
            F.element_at(toks, 1).alias("first_tok"),  # 1-indexed, = DuckDB arr[1]
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.substring("text", 1, 40), " "))),
                ",",
            ).alias("sorted40"),
        )
        .orderBy("doc_id")
    )


@_declare(
    "Q31_json_funcs",
    """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
FROM events ORDER BY event_id;""",
)
def q31(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Q32–Q35: the reference (swivel-prep) semantics — SURVEY.md §2.1
# ---------------------------------------------------------------------------

@_declare(
    "Q32_vocab_count",
    """SELECT tok, COUNT(*) AS cnt
FROM documents, UNNEST(string_split(text,' ')) AS t(tok)
GROUP BY tok HAVING COUNT(*) >= 5
ORDER BY cnt DESC, tok;""",
)
def q32(spark, sf_dir):
    # Reference vocab build: tokenize → count → min_count filter
    # (public prep.py create_vocabulary semantics; SURVEY.md §2.1).
    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
        .orderBy(F.col("cnt").desc(), "tok")
    )


@_declare(
    "Q33_vocab_ids",
    """SELECT tok, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) - 1 AS id
FROM (SELECT tok, COUNT(*) AS cnt FROM documents, UNNEST(string_split(text,' ')) AS t(tok)
      GROUP BY tok HAVING COUNT(*) >= 5)
ORDER BY id;""",
)
def q33(spark, sf_dir):
    # 0-based dense id by (count desc, token asc) — the declared contract.
    # Note: a global row_number window is a single-task bottleneck; the
    # scale path (swivel.assign_ids) is an inclusive prefix count over
    # operators/ranks.py's two-pass kernel, whose one persist fixes the
    # partition ids (fetch before cache.release_persisted()).
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    return (
        q32(spark, sf_dir)
        .select(
            "tok",
            "cnt",
            (F.row_number().over(w) - 1).cast("long").alias("id"),
        )
        .orderBy("id")
    )


@_declare(
    "Q34_cooc_window",
    """WITH toks AS (
  SELECT doc_id, arr[p + 1] AS tok, p::BIGINT AS pos
  FROM (SELECT doc_id, string_split(text,' ') AS arr FROM documents WHERE doc_id < 50),
       UNNEST(range(len(arr))) AS u(p)
)
SELECT a.tok AS w1, b.tok AS w2, ROUND(SUM(1.0/(b.pos - a.pos)),4) AS w
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos - a.pos <= 3
GROUP BY a.tok, b.tok ORDER BY a.tok, b.tok;""",
)
def q34(spark, sf_dir):
    # Co-occurrence pair generation (SURVEY.md §2.1 "cooc pair gen"):
    # weight 1/distance, window ≤ 3, upper triangle. MAP-SIDE pair
    # explosion (operators/swivel.cooc_pairs — prep.py's per-line flatMap,
    # Spark-first): no token-stream self-join, the only exchange is the
    # partially-aggregated (w1, w2) sum.
    from swivel_spark_prep_spark.operators.swivel import cooc_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        cooc_pairs(docs, window=3)
        .groupBy("w1", "w2")
        .agg(F.round(F.sum("w"), 4).alias("w"))
        .orderBy("w1", "w2")
    )


@_declare(
    "Q35_shard_marginals",
    """WITH vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) - 1 AS id
  FROM documents, UNNEST(string_split(text,' ')) AS t(tok) GROUP BY tok),
toks AS (
  SELECT doc_id, v.id, x.pos
  FROM (SELECT doc_id, arr[p+1] AS tok, p::BIGINT AS pos
        FROM (SELECT doc_id, string_split(text,' ') AS arr FROM documents),
             UNNEST(range(len(arr))) AS u(p)) x
  JOIN vocab v ON v.tok = x.tok),
cooc AS (
  SELECT a.id AS row_id, b.id AS col_id, SUM(1.0/(b.pos-a.pos)) AS w
  FROM toks a JOIN toks b ON a.doc_id=b.doc_id AND b.pos>a.pos AND b.pos-a.pos<=3
  GROUP BY 1,2)
SELECT row_id % 4 AS row_shard, col_id % 4 AS col_shard, COUNT(*) AS nnz, ROUND(SUM(w),4) AS total
FROM cooc GROUP BY 1,2 ORDER BY 1,2;""",
)
def q35(spark, sf_dir):
    # End-to-end swivel-prep oracle: vocab → ids → cooc → modulo shards
    # (arXiv:1602.02215 §3 sharding) → per-shard nnz + mass.
    # Map-side pair generation (swivel.cooc_pairs) + vocab ids joined
    # AFTER the pair aggregate on the nnz-sized relation: the corpus is
    # scanned twice (vocab counts, pair gen — both map-side single
    # passes), nothing is persisted, and the only data-scale exchange is
    # the combined pair-sum shuffle.
    from swivel_spark_prep_spark.operators.swivel import cooc_pairs

    docs = _t(spark, sf_dir, "documents")
    toks_raw = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok"))
    vocab = (
        toks_raw.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .select("tok", (F.row_number().over(w) - 1).cast("long").alias("id"))
    )
    agg = cooc_pairs(docs, window=3).groupBy("w1", "w2").agg(
        F.sum("w").alias("w")
    )
    v1 = vocab.select(F.col("tok").alias("w1"), F.col("id").alias("row_id"))
    v2 = vocab.select(F.col("tok").alias("w2"), F.col("id").alias("col_id"))
    cooc = (
        agg.join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .select("row_id", "col_id", "w")
    )
    return (
        cooc.select(
            (F.col("row_id") % 4).alias("row_shard"),
            (F.col("col_id") % 4).alias("col_shard"),
            "w",
        )
        .groupBy("row_shard", "col_shard")
        .agg(F.count("*").alias("nnz"), F.round(F.sum("w"), 4).alias("total"))
        .orderBy("row_shard", "col_shard")
    )


# ---------------------------------------------------------------------------
# Q36–Q38: streaming batch-parity (tumbling / sliding / session windows)
# ---------------------------------------------------------------------------

@_declare(
    "Q36_tumbling_window",
    """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win, event_type, COUNT(*) AS n, ROUND(SUM(value),2) AS v
FROM events GROUP BY 1,2 ORDER BY 1,2;""",
)
def q36(spark, sf_dir):
    # window().start is epoch-aligned, same as DuckDB time_bucket (verified
    # by the survey). The identical expression runs under readStream with
    # withWatermark — see streaming/.
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("win_s"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .select(
            F.col("win_s.start").cast("timestamp_ntz").alias("win"),
            "event_type",
            "n",
            "v",
        )
        .orderBy("win", "event_type")
    )


@_declare(
    "Q37_sliding_window",
    """SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS win_start, COUNT(*) AS n
FROM events, UNNEST([0,1]) AS u(k)
WHERE ts < time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE + INTERVAL 1 HOUR
GROUP BY 1 ORDER BY 1;""",
)
def q37(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win_s"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win_s.start").cast("timestamp_ntz").alias("win_start"), "n"
        )
        .orderBy("win_start")
    )


@_declare(
    "Q38_session_window",
    """WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events),
sess AS (
  SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks)
SELECT user_id, COUNT(DISTINCT sid) AS n_sessions, MAX(cnt) AS max_len
FROM (SELECT user_id, sid, COUNT(*) AS cnt FROM sess GROUP BY 1,2) GROUP BY user_id ORDER BY user_id;""",
)
def q38(spark, sf_dir):
    # session_window(gap=30m) ≡ the oracle's gaps-and-islands: a new
    # session starts when the gap strictly exceeds 30 min (interval overlap
    # semantics; µs-random timestamps make the ==30min boundary measure-0).
    per_session = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("cnt").alias("max_len"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Q39–Q43: LLM-pipeline operators (dedup / similarity / text stats)
# ---------------------------------------------------------------------------

@_declare(
    "Q39_exact_dedup",
    """SELECT COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
FROM documents;""",
)
def q39(spark, sf_dir):
    return _t(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dups"),
    )


@_declare(
    "Q40_dedup_survivors",
    """SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM documents) t
WHERE rn = 1 ORDER BY doc_id;""",
)
def q40(spark, sf_dir):
    # Exact dedup, keep min doc_id per content hash. Partitioned window —
    # scales (hash-partitioned by md5, no global sort).
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .orderBy("doc_id")
    )


@_declare(
    "Q41_jaccard_pairs",
    """WITH sh AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(range(len(string_split(text,' ')) - 2),
           p -> string_split(text,' ')[p+1] || ' ' || string_split(text,' ')[p+2] || ' ' || string_split(text,' ')[p+3]))) AS shingles
  FROM documents),
inv AS (SELECT doc_id, s.sh FROM sh, UNNEST(shingles) AS s(sh)),
rare AS (SELECT sh FROM inv GROUP BY sh HAVING COUNT(*) BETWEEN 2 AND 10),
cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM inv a JOIN rare USING (sh) JOIN inv b USING (sh)
         WHERE a.doc_id < b.doc_id)
SELECT d1, d2,
       ROUND(len(list_intersect(x.shingles, y.shingles))::DOUBLE /
             (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))),4) AS jac
FROM cand JOIN sh x ON x.doc_id=d1 JOIN sh y ON y.doc_id=d2
WHERE len(list_intersect(x.shingles,y.shingles))::DOUBLE /
      (len(x.shingles)+len(y.shingles)-len(list_intersect(x.shingles,y.shingles))) >= 0.2
ORDER BY d1, d2;""",
)
def q41(spark, sf_dir):
    # Near-dup pairs: 3-token shingles → inverted-index blocking on rare
    # shingles (df 2..10) → exact Jaccard ≥ 0.2. This is the deterministic
    # oracle twin of the MinHash-LSH production path (operators/dedup.py).
    #
    # Design: pair-COUNTING, never array joins. |A∩B| = the number of
    # shingles whose member list contains both docs (shingles are distinct
    # per doc), so exploding ordered pairs from each member list and
    # counting per (d1,d2) yields the exact intersection — no shingle
    # arrays are ever joined or intersected, and the blocking flag
    # ("shares ≥1 rare shingle") rides along as max(rare) in the same
    # aggregation. Doc shingle-set sizes are a tiny broadcast side.
    # Measured 8× over the array_intersect formulation at sf0.1.
    #
    # Scale note: pair explosion is O(Σ df²) over member lists. This
    # fixture's max df is 25; a Zipf-hot corpus needs either a df cap on
    # exact pair-gen or the MinHash-LSH path (dedup.minhash_near_dups) —
    # exact all-pairs Jaccard over hot shingles is quadratic by nature.
    docs = _t(spark, sf_dir, "documents")
    # single parquet file = single scan task; spread the CPU-bound
    # shingling across cores (measured 6×: the HOF pipeline is the cost).
    # Unconditional — probing width via .rdd forces a plan-to-RDD
    # conversion; AQE coalesces the no-op case.
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # hash each 3-token shingle to int64 directly (xxhash64 of the token
    # tuple — tokens are space-split so the tuple is unambiguous): set
    # semantics identical to the string oracle up to 64-bit collisions
    # (~10⁻⁷ at this scale).
    hash_expr = F.expr(
        """CASE WHEN size(toks) >= 3 THEN
             array_distinct(transform(sequence(0, size(toks)-3),
               p -> xxhash64(toks[p], toks[p+1], toks[p+2])))
           ELSE cast(array() as array<bigint>) END"""
    )
    # persisted: consumed twice (sizes + inverted index) and Spark has no
    # common-subplan reuse — 20 MB at sf0.1; at cluster scale this is the
    # materialize-the-inverted-index step of any dedup pipeline. Released
    # via cache.release_persisted() after the fetch (see cache.py).
    from swivel_spark_prep_spark.cache import track_persist

    sh = track_persist(
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", hash_expr.alias("shingles"))
    )
    sizes = sh.select("doc_id", F.size("shingles").alias("sz"))
    inv = sh.select("doc_id", F.explode("shingles").alias("sh"))
    grouped = (
        inv.groupBy("sh")
        .agg(F.collect_list("doc_id").alias("_ms"))
        .filter(F.size("_ms") >= 2)
        .withColumn("_rare", F.size("_ms") <= 10)
    )
    pairs = (
        grouped.select("_rare", F.explode("_ms").alias("d1"), "_ms")
        .select("_rare", "d1", F.explode("_ms").alias("d2"))
        .filter(F.col("d1") < F.col("d2"))
    )
    stats = pairs.groupBy("d1", "d2").agg(
        F.count("*").alias("_inter"), F.max("_rare").alias("_has_rare")
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("_sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("_sz2"))
    jac = F.col("_inter") / (F.col("_sz1") + F.col("_sz2") - F.col("_inter"))
    return (
        stats.filter("_has_rare")
        .join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .withColumn("_jac", jac)
        .filter(F.col("_jac") >= 0.2)
        .select("d1", "d2", F.round("_jac", 4).alias("jac"))
        .orderBy("d1", "d2")
    )


@_declare(
    "Q42_cosine_topk",
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], qv),4) AS sim
FROM embeddings, q WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], qv) DESC, vec_id LIMIT 5;""",
)
def q42(spark, sf_dir):
    # Brute-force cosine top-k: crossJoin the 1-row query vector (broadcast)
    # — no subquery inside higher-order functions (SURVEY.md §1.3.4).
    # zip_with/aggregate dot product stays JVM-side; global top-k via
    # TakeOrderedAndProject (no full sort).
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "emb_d", F.col("embedding").cast("array<double>")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("emb_d").alias("qv"))
    dot = F.aggregate(
        F.zip_with("emb_d", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n1 = F.aggregate("emb_d", F.lit(0.0), lambda acc, v: acc + v * v)
    n2 = F.aggregate("qv", F.lit(0.0), lambda acc, v: acc + v * v)
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .withColumn("_sim", dot / F.sqrt(n1 * n2))
        .orderBy(F.col("_sim").desc(), "vec_id")
        .limit(5)
        .select("vec_id", F.round("_sim", 4).alias("sim"))
    )


@_declare(
    "Q43_text_stats",
    """SELECT lang, COUNT(*) AS n_docs, ROUND(AVG(n_chars),4) AS avg_chars,
       ROUND(AVG(len(string_split(text,' '))),4) AS avg_toks
FROM documents GROUP BY lang ORDER BY lang;""",
)
def q43(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_toks"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q44: pandas UDF surface (grouped-map applyInPandas)
# ---------------------------------------------------------------------------

@_declare(
    "Q44_udf_normalize",
    """SELECT event_id, ROUND((value - AVG(value) OVER (PARTITION BY user_id)) /
       STDDEV_SAMP(value) OVER (PARTITION BY user_id), 4) AS v_norm
FROM events ORDER BY event_id;""",
)
def q44(spark, sf_dir):
    # Deliberately implemented via applyInPandas (Arrow grouped-map UDF) to
    # exercise the Python data path — the oracle equivalent is pure window
    # SQL (SURVEY.md Q44). Rounding applied JVM-side with F.round so the
    # half-away-from-zero rule matches DuckDB (numpy rounds half-to-even).
    #
    # Grouping is by a salted USER BUCKET, not by user_id: grouped-map ships
    # one Arrow batch + one Python call per group, so thousands of tiny
    # user groups pay ~3 ms each in fixed overhead. Bucketing amortizes it
    # — each call normalizes many users with a vectorized groupby-transform
    # (C speed), semantics unchanged. Buckets scale out with the cluster.
    # Residual skew limit: bucketing cannot SPLIT one pathologically hot
    # key; the skew-proof two-pass form (agg + join-back, no Python) is
    # operators/normalize.normalize_per_key (X54), result-equal by test.
    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("user_id")["value"]
        mu = g.transform("mean")
        sd = g.transform("std")  # ddof=1, matches STDDEV_SAMP
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "v_norm": (pdf["value"] - mu) / sd}
        )

    return (
        _t(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .groupBy(F.pmod(F.xxhash64("user_id"), F.lit(64)).alias("_bucket"))
        .applyInPandas(_norm, schema="event_id long, v_norm double")
        .select("event_id", F.round("v_norm", 4).alias("v_norm"))
        .orderBy("event_id")
    )
