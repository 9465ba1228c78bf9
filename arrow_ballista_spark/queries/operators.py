"""Operator-coverage queries: joins, set ops, aggregates, sort/limit.

One named query per operator family from SURVEY.md §2.B.3/2.B.4/2.B.6/2.B.7,
implemented with the idiomatic DataFrame API (Catalyst picks broadcast vs
shuffle strategies; see session defaults) and oracled against DuckDB SQL.

Design rules for driver-hash safety:
 - no NULLs in any output column (COALESCE to sentinels) — pandas nullable
   dtypes stringify differently across engines;
 - integer aggregates CAST AS BIGINT in the oracle (DuckDB SUM(int) is
   HUGEINT);
 - every ranking/offset window has a total order (unique tiebreak column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arrow_ballista_spark.catalog import load_table, register_tables
from arrow_ballista_spark.queries import cround, query
from arrow_ballista_spark.types import local_frame


# --------------------------------------------------------------------------
# Joins (SURVEY 2.B.3: all JoinType variants, datafusion.proto:240-249)
# --------------------------------------------------------------------------

@query(
    "join_inner",
    """
SELECT n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
""",
    doc="INNER equi-join; dim side broadcast (ref JoinType INNER)",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    ).select("n_name", "r_name")


@query(
    "join_left_outer",
    """
SELECT o_orderstatus,
       CAST(COUNT(l_orderkey) AS BIGINT) AS matched_lines,
       COUNT(*) AS total_rows
FROM orders LEFT OUTER JOIN lineitem
  ON o_orderkey = l_orderkey AND l_quantity > 45
GROUP BY o_orderstatus
""",
    doc="LEFT OUTER with join-time residual filter (ref JoinType LEFT)",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (orders.o_orderkey == li.l_orderkey) & (li.l_quantity > 45)
    return (
        orders.join(li, cond, "left_outer")
        .groupBy("o_orderstatus")
        .agg(
            F.count("l_orderkey").alias("matched_lines"),
            F.count(F.lit(1)).alias("total_rows"),
        )
    )


@query(
    "join_right_outer",
    """
SELECT s_suppkey, CAST(COUNT(l_orderkey) AS BIGINT) AS big_discount_lines
FROM lineitem RIGHT OUTER JOIN supplier
  ON l_suppkey = s_suppkey AND l_discount > 0.09
GROUP BY s_suppkey
""",
    doc="RIGHT OUTER join (ref JoinType RIGHT)",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    cond = (li.l_suppkey == sup.s_suppkey) & (li.l_discount > 0.09)
    return (
        li.join(sup, cond, "right_outer")
        .groupBy("s_suppkey")
        .agg(F.count("l_orderkey").alias("big_discount_lines"))
    )


@query(
    "join_full_outer",
    """
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       COALESCE(c.rich_custs, 0) AS rich_custs,
       COALESCE(s.rich_supps, 0) AS rich_supps
FROM (SELECT c_nationkey AS nk, COUNT(*) AS rich_custs
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nk, COUNT(*) AS rich_supps
      FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey) s
  ON c.nk = s.nk
""",
    doc="FULL OUTER join of two aggregates (ref JoinType FULL)",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("rich_custs"))
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("rich_supps"))
    )
    j = cust.join(sup, cust.nk == sup.nk, "full_outer")
    return j.select(
        F.coalesce(cust.nk, sup.nk).alias("nationkey"),
        F.coalesce(cust.rich_custs, F.lit(0)).alias("rich_custs"),
        F.coalesce(sup.rich_supps, F.lit(0)).alias("rich_supps"),
    )


@query(
    "join_left_semi",
    """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""",
    doc="LEFT SEMI join (ref JoinType LEFT_SEMI; EXISTS rewrite)",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_left_anti",
    """
SELECT c_custkey, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
""",
    doc="LEFT ANTI join (ref JoinType LEFT_ANTI; NOT EXISTS rewrite)",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_acctbal")


@query(
    "join_cross",
    """
SELECT r_name, seg
FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer)
""",
    doc="CROSS join (ref CrossJoinNode datafusion.proto:275-279)",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    segs = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("seg"))
        .distinct()
    )
    return region.crossJoin(segs)


@query(
    "join_theta",
    """
SELECT a.s_suppkey AS poor_supp, b.s_suppkey AS rich_supp
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey
 AND a.s_acctbal < b.s_acctbal - 9000
""",
    doc="theta (non-equi) join -> Spark BNLJ/SMJ (ref NestedLoopJoinExec)",
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load_table(spark, sf_dir, "supplier").alias("a")
    b = load_table(spark, sf_dir, "supplier").alias("b")
    cond = (F.col("a.s_nationkey") == F.col("b.s_nationkey")) & (
        F.col("a.s_acctbal") < F.col("b.s_acctbal") - 9000
    )
    return a.join(b, cond).select(
        F.col("a.s_suppkey").alias("poor_supp"),
        F.col("b.s_suppkey").alias("rich_supp"),
    )


@query(
    "join_null_safe",
    """
SELECT COALESCE(a.st, 'NULL') AS left_status,
       COALESCE(b.st, 'NULL') AS right_status
FROM (SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS st FROM orders) a
JOIN (SELECT DISTINCT NULLIF(o_orderstatus, 'P') AS st FROM orders) b
  ON a.st IS NOT DISTINCT FROM b.st
""",
    doc="null-safe equality join (ref null_equals_null, JoinNode proto:256-266)",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    side = orders.select(
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("st")
    ).distinct()
    a, b = side.alias("a"), side.alias("b")
    return a.join(b, F.col("a.st").eqNullSafe(F.col("b.st"))).select(
        F.coalesce(F.col("a.st"), F.lit("NULL")).alias("left_status"),
        F.coalesce(F.col("b.st"), F.lit("NULL")).alias("right_status"),
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY 2.B.7)
# --------------------------------------------------------------------------

@query(
    "setop_union_all",
    """
SELECT c_custkey AS entity_key, 'customer' AS src FROM customer
UNION ALL
SELECT s_suppkey AS entity_key, 'supplier' AS src FROM supplier
""",
    doc="n-ary UNION ALL (ref UnionNode datafusion.proto:271-274)",
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"), F.lit("customer").alias("src")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"), F.lit("supplier").alias("src")
    )
    return cust.unionAll(sup)


@query(
    "setop_union_distinct",
    """
SELECT o_orderstatus AS status FROM orders
UNION
SELECT l_linestatus AS status FROM lineitem
""",
    doc="UNION with dedup (ref Distinct-over-Union)",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status")
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("status")
    )
    return o.union(l).distinct()


@query(
    "setop_intersect",
    """
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
""",
    doc="INTERSECT -> left-semi rewrite (ref JoinType LEFT_SEMI)",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey")
    )
    with_orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return rich.intersect(with_orders)


@query(
    "setop_except",
    """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders
""",
    doc="EXCEPT -> left-anti rewrite (ref JoinType LEFT_ANTI)",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    with_orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    # subtract() IS EXCEPT-distinct; exceptAll().distinct() differs when a
    # left row outnumbers its right occurrences (bag difference leaves
    # survivors that distinct() then keeps)
    return cust.subtract(with_orders)


# --------------------------------------------------------------------------
# Aggregations (SURVEY 2.B.4)
# --------------------------------------------------------------------------

@query(
    "agg_grouping_sets",
    """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       (floor(abs(SUM(l_quantity)) * 100 + 0.5) / 100e0 * (CASE WHEN (SUM(l_quantity)) < 0 THEN -1 ELSE 1 END)) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    doc="GROUPING SETS + grouping() (ref GroupingSetNode proto:370-381)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               (floor(abs(SUM(l_quantity)) * 100 + 0.5) / 100e0 * (CASE WHEN (SUM(l_quantity)) < 0 THEN -1 ELSE 1 END)) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


@query(
    "agg_rollup",
    """
SELECT COALESCE(r_name, 'ALL') AS region_name,
       COALESCE(n_name, 'ALL') AS nation_name,
       CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers
FROM supplier, nation, region
WHERE s_nationkey = n_nationkey AND n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    doc="ROLLUP (ref RollupNode datafusion.proto:370-381)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    j = sup.join(nat, sup.s_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            F.col("n_suppliers"),
        )
    )


@query(
    "agg_cube",
    """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       (floor(abs(SUM(l_extendedprice)) * 100 + 0.5) / 100e0 * (CASE WHEN (SUM(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE (ref CubeNode datafusion.proto:370-381)",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(cround(F.sum("l_extendedprice"), 2).alias("sum_price"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            F.col("sum_price"),
        )
    )


@query(
    "agg_distinct_filter",
    """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
       CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT)
           AS discounted_rows,
       (floor(abs(SUM(l_quantity) FILTER (WHERE l_tax > 0.04)) * 100 + 0.5) / 100e0 * (CASE WHEN (SUM(l_quantity) FILTER (WHERE l_tax > 0.04)) < 0 THEN -1 ELSE 1 END)) AS taxed_qty
FROM lineitem
GROUP BY l_returnflag
""",
    doc="DISTINCT aggregates + per-aggregate FILTER (ref AggregateExprNode "
        "distinct/filter, datafusion.proto:551-557)",
)
def agg_distinct_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("distinct_supps"),
        F.count_distinct("l_partkey").alias("distinct_parts"),
        F.expr("COUNT(*) FILTER (WHERE l_discount > 0.05)").alias(
            "discounted_rows"
        ),
        F.expr("(floor(abs(SUM(l_quantity) FILTER (WHERE l_tax > 0.04)) * 100 + 0.5) / 100e0 * (CASE WHEN (SUM(l_quantity) FILTER (WHERE l_tax > 0.04)) < 0 THEN -1 ELSE 1 END))").alias(
            "taxed_qty"
        ),
    )


@query(
    "agg_stats",
    """
SELECT l_returnflag,
       (floor(abs(stddev_samp(l_quantity)) * 10000 + 0.5) / 10000e0 * (CASE WHEN (stddev_samp(l_quantity)) < 0 THEN -1 ELSE 1 END)) AS sd_qty,
       (floor(abs(stddev_pop(l_quantity)) * 10000 + 0.5) / 10000e0 * (CASE WHEN (stddev_pop(l_quantity)) < 0 THEN -1 ELSE 1 END)) AS sdp_qty,
       (floor(abs(var_samp(l_discount)) * 1000000 + 0.5) / 1000000e0 * (CASE WHEN (var_samp(l_discount)) < 0 THEN -1 ELSE 1 END)) AS var_disc,
       (floor(abs(var_pop(l_discount)) * 1000000 + 0.5) / 1000000e0 * (CASE WHEN (var_pop(l_discount)) < 0 THEN -1 ELSE 1 END)) AS varp_disc,
       (floor(abs(corr(l_quantity, l_extendedprice)) * 10000 + 0.5) / 10000e0 * (CASE WHEN (corr(l_quantity, l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS corr_qty_price,
       (floor(abs(covar_samp(l_quantity, l_extendedprice)) * 100 + 0.5) / 100e0 * (CASE WHEN (covar_samp(l_quantity, l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS cov_qty_price,
       (floor(abs(covar_pop(l_quantity, l_extendedprice)) * 100 + 0.5) / 100e0 * (CASE WHEN (covar_pop(l_quantity, l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS covp_qty_price
FROM lineitem
GROUP BY l_returnflag
""",
    doc="variance/stddev/corr/covar aggregates (ref AggregateFunction "
        "datafusion.proto:537-543)",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        cround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        cround(F.stddev_pop("l_quantity"), 4).alias("sdp_qty"),
        cround(F.var_samp("l_discount"), 6).alias("var_disc"),
        cround(F.var_pop("l_discount"), 6).alias("varp_disc"),
        cround(F.corr("l_quantity", "l_extendedprice"), 4).alias(
            "corr_qty_price"
        ),
        cround(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "cov_qty_price"
        ),
        cround(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias(
            "covp_qty_price"
        ),
    )


@query(
    "agg_median_percentile",
    """
SELECT o_orderstatus,
       (floor(abs(median(o_totalprice)) * 100 + 0.5) / 100e0 * (CASE WHEN (median(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS median_price,
       (floor(abs(quantile_cont(o_totalprice, 0.9)) * 100 + 0.5) / 100e0 * (CASE WHEN (quantile_cont(o_totalprice, 0.9)) < 0 THEN -1 ELSE 1 END)) AS p90_price
FROM orders
GROUP BY o_orderstatus
""",
    doc="MEDIAN / percentile-cont (ref AggregateFunction MEDIAN, "
        "APPROX_PERCENTILE_CONT datafusion.proto:544-548)",
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        cround(F.median("o_totalprice"), 2).alias("median_price"),
        cround(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90_price"),
    )


@query(
    "agg_approx_distinct",
    # HLL sketch VALUES are engine-specific by design, so the oracle
    # checks the sketch's defining PROPERTY instead: each engine runs its
    # own approx_count_distinct next to the exact count and asserts the
    # relative error is inside the advertised bound (5% >> both engines'
    # default accuracy).  The boolean + exact count hash-compare.
    """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       (abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
        <= 0.05 * COUNT(DISTINCT l_partkey)) AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
""",
    doc="APPROX_DISTINCT (ref datafusion.proto:535) — HLL sketch; sketch "
        "values are engine-specific, so the oracle hash-compares the exact "
        "count plus an each-engine-within-5%-error property bit.  Spark "
        "runs at rsd=0.01 so the 5%% bound is a 5-sigma property, not a "
        "1-sigma coin flip (the default rsd IS 0.05 — at dense-HLL "
        "cardinalities a ~1/3-per-group failure rate)",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    exact = F.count_distinct("l_partkey")
    approx = F.approx_count_distinct("l_partkey", rsd=0.01)
    return li.groupBy("l_returnflag").agg(
        exact.cast("bigint").alias("exact_parts"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


@query(
    "agg_array_agg",
    """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
FROM nation
GROUP BY n_regionkey
""",
    doc="ARRAY_AGG (ref datafusion.proto:536) — sorted, serialized for "
        "deterministic cross-engine compare",
)
def agg_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    return nat.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias(
            "nations_csv"
        )
    )


@query(
    "agg_minmax_by",
    """
SELECT o_orderstatus,
       first(o_orderkey ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DESC,
                                 o_orderkey DESC) AS priciest_order,
       first(o_orderkey ORDER BY CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) ASC,
                                 o_orderkey ASC) AS cheapest_order,
       (floor(abs(MAX(o_totalprice)) * 100 + 0.5) / 100e0 * (CASE WHEN (MAX(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS max_price,
       (floor(abs(MIN(o_totalprice)) * 100 + 0.5) / 100e0 * (CASE WHEN (MIN(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS min_price
FROM orders
GROUP BY o_orderstatus
""",
    doc="MAX_BY/MIN_BY selector aggregates.  The selector metric is a "
        "(price-cents, orderkey) STRUCT, compared lexicographically, so "
        "price TIES break deterministically by orderkey on both engines "
        "at ANY key range — bare arg_max/max_by leaves ties "
        "engine-arbitrary, and the earlier arithmetic composite "
        "(cents * 1e10 + key) corrupted the price ordering once "
        "orderkey >= 1e10 (reachable at large TPC-H SFs / key-offset "
        "replicated fixtures)",
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    metric = F.struct(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", metric).alias("priciest_order"),
        F.min_by("o_orderkey", metric).alias("cheapest_order"),
        cround(F.max("o_totalprice"), 2).alias("max_price"),
        cround(F.min("o_totalprice"), 2).alias("min_price"),
    )


@query(
    "select_distinct",
    """
SELECT DISTINCT p_brand, p_type FROM part
""",
    doc="SELECT DISTINCT (ref DistinctNode datafusion.proto:267-270)",
)
def select_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select("p_brand", "p_type").distinct()


# --------------------------------------------------------------------------
# Sort / limit / offset (SURVEY 2.B.6)
# --------------------------------------------------------------------------

@query(
    "sort_multi_key_nulls",
    """
SELECT o_orderkey,
       COALESCE(pr, 'NONE') AS priority_or_none
FROM (SELECT o_orderkey, NULLIF(o_orderpriority, '5-LOW') AS pr
      FROM orders WHERE o_orderkey <= 500)
ORDER BY pr ASC NULLS FIRST, o_orderkey DESC
""",
    doc="multi-key sort w/ explicit null ordering (ref SortExprNode "
        "nulls_first, datafusion.proto:645-650; SURVEY §7 risk 3)",
)
def sort_multi_key_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    o = o.select(
        "o_orderkey", F.nullif("o_orderpriority", F.lit("5-LOW")).alias("pr")
    )
    return o.orderBy(
        F.col("pr").asc_nulls_first(), F.col("o_orderkey").desc()
    ).select(
        "o_orderkey", F.coalesce("pr", F.lit("NONE")).alias("priority_or_none")
    )


@query(
    "limit_offset",
    """
SELECT o_orderkey, (floor(abs(o_totalprice) * 100 + 0.5) / 100e0 * (CASE WHEN (o_totalprice) < 0 THEN -1 ELSE 1 END)) AS price
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 5
""",
    doc="LIMIT + OFFSET (ref GlobalLimitExecNode skip/fetch, "
        "datafusion.proto:1251-1258)",
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", cround("o_totalprice", 2).alias("price"))
        .offset(5)
        .limit(15)
    )


@query(
    "topk",
    """
SELECT p_partkey, p_name, (floor(abs(p_retailprice) * 100 + 0.5) / 100e0 * (CASE WHEN (p_retailprice) < 0 THEN -1 ELSE 1 END)) AS price
FROM part
ORDER BY p_retailprice DESC, p_partkey
LIMIT 5
""",
    doc="top-k = sort+fetch (ref SortExecNode fetch, "
        "datafusion.proto:1264-1270 -> Spark TakeOrderedAndProject)",
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .select(
            "p_partkey", "p_name", cround("p_retailprice", 2).alias("price")
        )
        .limit(5)
    )


@query(
    "values_inline",
    """
SELECT * FROM (VALUES (1, 'one'), (2, 'two'), (3, 'three')) AS t(id, name)
""",
    doc="inline VALUES relation (ref ValuesNode datafusion.proto:214-218)",
)
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return local_frame(
        spark, [(1, "one"), (2, "two"), (3, "three")], "id int, name string"
    )


@query(
    "pivot_conditional",
    """
SELECT user_id % 10 AS user_bucket,
       CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS purchase,
       CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
       CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
FROM events
GROUP BY user_id % 10
""",
    doc="pivot via conditional aggregation (map-side combinable, no "
        "per-category shuffle)",
)
def pivot_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cats = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", cats)
        .count()
        .na.fill(0, cats)
    )


@query(
    "join_right_semi",
    """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
""",
    doc="RIGHT SEMI join (ref JoinType RIGHTSEMI, datafusion.proto:246) — "
        "expressed as left-semi with sides swapped, the documented Spark "
        "mapping (SURVEY 2.B.3)",
)
def join_right_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    sup = load_table(spark, sf_dir, "supplier")
    return sup.join(
        li, sup.s_suppkey == li.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@query(
    "join_right_anti",
    """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey NOT IN (SELECT l_suppkey FROM lineitem WHERE l_quantity > 49)
""",
    doc="RIGHT ANTI join (ref JoinType RIGHTANTI, datafusion.proto:247) — "
        "left-anti with sides swapped",
)
def join_right_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    sup = load_table(spark, sf_dir, "supplier")
    return sup.join(
        li, sup.s_suppkey == li.l_suppkey, "left_anti"
    ).select("s_suppkey", "s_name")


@query(
    "sql_parameterized",
    """
SELECT n_name, n_nationkey
FROM nation
WHERE n_regionkey = 2 AND n_nationkey >= 5
ORDER BY n_nationkey
""",
    doc="parameterized SQL with named placeholders (ref PlaceholderNode/"
        "PrepareNode, datafusion.proto:186-191, 361-365 -> "
        "spark.sql(sql, args=...))",
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("nation",))
    return spark.sql(
        "SELECT n_name, n_nationkey FROM nation "
        "WHERE n_regionkey = :rk AND n_nationkey >= :min_key "
        "ORDER BY n_nationkey",
        args={"rk": 2, "min_key": 5},
    )


@query(
    "setop_intersect_all",
    """
SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 5000
INTERSECT ALL
SELECT s_nationkey AS nk FROM supplier
""",
    doc="INTERSECT ALL (bag semantics; ref rewrites set ops onto semi joins, "
        "SURVEY 2.B.7)",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk")
    )
    return cust.intersectAll(sup)


@query(
    "setop_except_all",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
""",
    doc="EXCEPT ALL (bag difference; ref LEFTANTI rewrite, SURVEY 2.B.7)",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o_open = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    o_done = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return o_open.exceptAll(o_done)


@query(
    "view_scan",
    """
WITH revenue_by_nation AS (
    SELECT c_nationkey AS nk, SUM(o_totalprice) AS rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
)
SELECT n_name, (floor(abs(rev) * 100 + 0.5) / 100e0 *
                (CASE WHEN rev < 0 THEN -1 ELSE 1 END)) AS rev
FROM revenue_by_nation JOIN nation ON nk = n_nationkey
ORDER BY n_name
""",
    doc="view scan (ref ViewTableScanNode, datafusion.proto:117-125; "
        "TPC-H q15 create-view pattern) — temp view defined then queried",
)
def view_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("orders", "customer", "nation"))
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW revenue_by_nation AS
        SELECT c_nationkey AS nk, SUM(o_totalprice) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
        """
    )
    return spark.sql(
        """
        SELECT n_name, (floor(abs(rev) * 100 + 0.5) / 100e0 *
                        (CASE WHEN rev < 0 THEN -1 ELSE 1 END)) AS rev
        FROM revenue_by_nation JOIN nation ON nk = n_nationkey
        ORDER BY n_name
        """
    )


@query(
    "source_python_datasource",
    """
SELECT i AS id, i * 0.5 AS val, CAST(i % 7 AS INT) AS bucket
FROM (SELECT unnest(generate_series(0, 999)) AS i)
""",
    doc="custom table provider (ref CustomTableScanNode, datafusion.proto:"
        "126-133) — pure-Python DataSource V2 with source-side partitioning",
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.sources import python_datasource

    python_datasource.register(spark)
    return (
        spark.read.format("synthetic_range")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
    )


# --------------------------------------------------------------------------
# h2o db-benchmark patterns (reference ships these harnesses:
# benchmarks/db-benchmark/{groupby,join}-datafusion.py)
# --------------------------------------------------------------------------

@query(
    "h2o_groupby_lowcard",
    """
SELECT event_type, CAST(SUM(user_id) AS BIGINT) AS sum_uid,
       COUNT(*) AS n
FROM events GROUP BY event_type
""",
    doc="h2o groupby q1 shape: sum by low-cardinality key (ref "
        "benchmarks/db-benchmark/groupby-datafusion.py)",
)
def h2o_groupby_lowcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum("user_id").alias("sum_uid"), F.count(F.lit(1)).alias("n")
    )


@query(
    "h2o_groupby_highcard",
    """
SELECT user_id,
       (floor(abs(AVG(value)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (AVG(value)) < 0 THEN -1 ELSE 1 END)) AS avg_value,
       CAST(MAX(event_id) AS BIGINT) AS max_event
FROM events GROUP BY user_id
""",
    doc="h2o groupby q3 shape: mean + max by high-cardinality key",
)
def h2o_groupby_highcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        cround(F.avg("value"), 4).alias("avg_value"),
        F.max("event_id").alias("max_event"),
    )


@query(
    "h2o_join_bigsmall",
    """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
       (floor(abs(SUM(o_totalprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    doc="h2o join shape: big x small equi-join + agg (ref "
        "benchmarks/db-benchmark/join-datafusion.py)",
)
def h2o_join_bigsmall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            cround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "h2o_join_medium_inner",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       (floor(abs(SUM(o_totalprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS sum_price,
       (floor(abs(SUM(c_acctbal)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(c_acctbal)) < 0 THEN -1 ELSE 1 END)) AS sum_bal
FROM orders JOIN customer ON o_custkey = c_custkey
""",
    doc="h2o join q2 shape: medium inner equi-join on int key, checksum "
        "output per the h2o chk protocol (ref benchmarks/db-benchmark/"
        "join-datafusion.py:105-118). No broadcast hint: at scale both "
        "sides shuffle; AQE promotes small cases at test SF.",
)
def h2o_join_medium_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .agg(
            F.count(F.lit(1)).alias("n"),
            cround(F.sum("o_totalprice"), 2).alias("sum_price"),
            cround(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@query(
    "h2o_join_medium_outer",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(o_orderkey) AS BIGINT) AS n_matched,
       (floor(abs(SUM(c_acctbal)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(c_acctbal)) < 0 THEN -1 ELSE 1 END)) AS sum_bal,
       (floor(abs(SUM(o_totalprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS sum_price
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
""",
    doc="h2o join q3 shape: medium LEFT OUTER on int key — customers "
        "without orders witness the null-extended side (ref benchmarks/"
        "db-benchmark/join-datafusion.py:122-135)",
)
def h2o_join_medium_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("o_orderkey").alias("n_matched"),
            cround(F.sum("c_acctbal"), 2).alias("sum_bal"),
            cround(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "h2o_join_factor",
    """
WITH brand_dim AS (
  SELECT p_brand AS b_brand,
         (floor(abs(AVG(p_retailprice)) * 10000 + 0.5) / 10000e0 *
          (CASE WHEN (AVG(p_retailprice)) < 0 THEN -1 ELSE 1 END))
           AS b_avg_price
  FROM part GROUP BY p_brand
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       (floor(abs(SUM(p_retailprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(p_retailprice)) < 0 THEN -1 ELSE 1 END)) AS sum_price,
       (floor(abs(SUM(b_avg_price)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(b_avg_price)) < 0 THEN -1 ELSE 1 END)) AS sum_brand_avg
FROM part JOIN brand_dim ON p_brand = b_brand
""",
    doc="h2o join q4 shape: inner join on a string factor key (ref "
        "benchmarks/db-benchmark/join-datafusion.py:139-152). The "
        "low-cardinality dim is broadcast — zero extra shuffle at any "
        "scale; per-brand avg is pre-rounded identically on both sides.",
)
def h2o_join_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    part = load_table(spark, sf_dir, "part")
    dim = part.groupBy(F.col("p_brand").alias("b_brand")).agg(
        cround(F.avg("p_retailprice"), 4).alias("b_avg_price")
    )
    return (
        part.join(F.broadcast(dim), part.p_brand == dim.b_brand)
        .agg(
            F.count(F.lit(1)).alias("n"),
            cround(F.sum("p_retailprice"), 2).alias("sum_price"),
            cround(F.sum("b_avg_price"), 2).alias("sum_brand_avg"),
        )
    )


@query(
    "h2o_join_big",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       (floor(abs(SUM(l_extendedprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS sum_l,
       (floor(abs(SUM(o_totalprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(o_totalprice)) < 0 THEN -1 ELSE 1 END)) AS sum_o
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
""",
    doc="h2o join q5 shape: big x big inner on int key — the pure "
        "shuffle-join stressor (ref benchmarks/db-benchmark/"
        "join-datafusion.py:156-169). Both sides hash-partition on the "
        "key; at 100 TB this is a sort-merge join, never a broadcast.",
)
def h2o_join_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n"),
            cround(F.sum("l_extendedprice"), 2).alias("sum_l"),
            cround(F.sum("o_totalprice"), 2).alias("sum_o"),
        )
    )


@query(
    "nyctaxi_fare_by_passenger",
    """
SELECT l_linenumber AS passenger_count,
       MIN(l_extendedprice) AS min_fare,
       MAX(l_extendedprice) AS max_fare,
       (floor(abs(SUM(l_extendedprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS sum_fare
FROM lineitem GROUP BY l_linenumber
""",
    doc="NYC-taxi micro-bench shape: MIN/MAX/SUM by a low-cardinality "
        "int key (ref benchmarks/src/bin/nyctaxi.rs:104 — "
        "fare_amt_by_passenger), mapped onto lineitem/l_linenumber",
)
def nyctaxi_fare_by_passenger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_linenumber").alias("passenger_count")).agg(
        F.min("l_extendedprice").alias("min_fare"),
        F.max("l_extendedprice").alias("max_fare"),
        cround(F.sum("l_extendedprice"), 2).alias("sum_fare"),
    )


@query(
    "fn_explode_unnest",
    """
SELECT doc_id, tok
FROM (SELECT doc_id, unnest(string_split_regex(text, ' +')) AS tok
      FROM documents WHERE doc_id < 20)
WHERE length(tok) >= 6
""",
    doc="array explode / UNNEST (DataFusion runtime unnest; Spark "
        "explode + lateral view semantics)",
)
def fn_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " +")).alias("tok")
        )
        .filter(F.length("tok") >= 6)
    )


@query(
    "meta_information_schema",
    """
SELECT table_name, column_name, CAST(ordinal_position AS INT) AS ordinal_position
FROM information_schema.columns
WHERE table_name IN ('region', 'nation', 'customer', 'supplier', 'part',
                     'orders', 'lineitem', 'events', 'documents', 'embeddings')
ORDER BY table_name, ordinal_position
""",
    doc="information_schema.columns over the registered catalog "
        "(ref ballista.with_information_schema, config.rs:43-44; "
        "data_type spellings are engine-specific so the oracled columns "
        "are name + ordinal — the Spark view also carries data_type / "
        "is_nullable)",
)
def meta_information_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.catalog import ALL_TABLES
    from arrow_ballista_spark.metadata import register_information_schema

    register_tables(spark, sf_dir)
    register_information_schema(spark, tables=list(ALL_TABLES))
    return spark.sql(
        """
        SELECT table_name, column_name,
               CAST(ordinal_position AS INT) AS ordinal_position
        FROM information_schema.columns
        ORDER BY table_name, ordinal_position
        """
    )


@query(
    "h2o_groupby_median_sd",
    """
SELECT event_type,
       (floor(abs(median(value)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (median(value)) < 0 THEN -1 ELSE 1 END)) AS median_v,
       (floor(abs(stddev_samp(value)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (stddev_samp(value)) < 0 THEN -1 ELSE 1 END)) AS sd_v
FROM events GROUP BY event_type
""",
    doc="h2o groupby q6 shape: median + sample stddev by key (ref "
        "benchmarks/db-benchmark/groupby-datafusion.py:155-162)",
)
def h2o_groupby_median_sd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        cround(F.median("value"), 4).alias("median_v"),
        cround(F.stddev_samp("value"), 4).alias("sd_v"),
    )


@query(
    "h2o_groupby_range",
    """
SELECT event_type,
       (floor(abs(MAX(value) - MIN(value)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (MAX(value) - MIN(value)) < 0 THEN -1 ELSE 1 END))
         AS range_v
FROM events GROUP BY event_type
""",
    doc="h2o groupby q7 shape: max - min by key (ref "
        "groupby-datafusion.py:172-179)",
)
def h2o_groupby_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        cround(F.max("value") - F.min("value"), 4).alias("range_v")
    )


@query(
    "h2o_groupby_top2",
    """
SELECT event_type,
       (floor(abs(v) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (v) < 0 THEN -1 ELSE 1 END)) AS v,
       CAST(rnk AS INT) AS rnk
FROM (
  SELECT event_type, value AS v,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rnk
  FROM events
) WHERE rnk <= 2
""",
    doc="h2o groupby q8 shape: largest two values per group via a "
        "partitioned window, tie-broken by event_id (ref "
        "groupby-datafusion.py:189-196)",
)
def h2o_groupby_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from arrow_ballista_spark.queries import cround

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        ev.select(
            "event_type",
            F.col("value").alias("v"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= 2)
        .select(
            "event_type", cround(F.col("v"), 4).alias("v"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "h2o_groupby_corr",
    """
SELECT event_type,
       (floor(abs(pow(corr(user_id, value), 2)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (pow(corr(user_id, value), 2)) < 0 THEN -1 ELSE 1 END))
         AS r2
FROM events GROUP BY event_type
""",
    doc="h2o groupby q9 shape: regression r^2 = corr^2 by key (ref "
        "groupby-datafusion.py:206-213)",
)
def h2o_groupby_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        cround(F.pow(F.corr("user_id", "value"), 2), 4).alias("r2")
    )


@query(
    "h2o_groupby_twokey",
    """
SELECT l_returnflag, l_linestatus,
       (floor(abs(SUM(l_extendedprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS sum_v1
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
    doc="h2o groupby q2 shape: sum by two low-cardinality keys (ref "
        "benchmarks/db-benchmark/groupby-datafusion.py:87-94)",
)
def h2o_groupby_twokey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        cround(F.sum("l_extendedprice"), 2).alias("sum_v1")
    )


@query(
    "h2o_groupby_mean3",
    """
SELECT l_linenumber,
       (floor(abs(AVG(l_quantity)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (AVG(l_quantity)) < 0 THEN -1 ELSE 1 END)) AS mean_v1,
       (floor(abs(AVG(l_extendedprice)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (AVG(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS mean_v2,
       (floor(abs(AVG(l_discount)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (AVG(l_discount)) < 0 THEN -1 ELSE 1 END)) AS mean_v3
FROM lineitem GROUP BY l_linenumber
""",
    doc="h2o groupby q4 shape: mean of three measures by one key (ref "
        "groupby-datafusion.py:121-128)",
)
def h2o_groupby_mean3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linenumber").agg(
        cround(F.avg("l_quantity"), 4).alias("mean_v1"),
        cround(F.avg("l_extendedprice"), 4).alias("mean_v2"),
        cround(F.avg("l_discount"), 4).alias("mean_v3"),
    )


@query(
    "h2o_groupby_sum3_highcard",
    """
SELECT l_orderkey,
       (floor(abs(SUM(l_quantity)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(l_quantity)) < 0 THEN -1 ELSE 1 END)) AS sum_v1,
       (floor(abs(SUM(l_extendedprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS sum_v2,
       (floor(abs(SUM(l_discount)) * 10000 + 0.5) / 10000e0 *
        (CASE WHEN (SUM(l_discount)) < 0 THEN -1 ELSE 1 END)) AS sum_v3
FROM lineitem GROUP BY l_orderkey
""",
    doc="h2o groupby q5 shape: sum of three measures by the high-"
        "cardinality key (ref groupby-datafusion.py:138-145)",
)
def h2o_groupby_sum3_highcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        cround(F.sum("l_quantity"), 2).alias("sum_v1"),
        cround(F.sum("l_extendedprice"), 2).alias("sum_v2"),
        cround(F.sum("l_discount"), 4).alias("sum_v3"),
    )


@query(
    "h2o_groupby_manykey",
    """
SELECT l_returnflag, l_linestatus, l_linenumber, l_orderkey, l_partkey,
       l_suppkey,
       (floor(abs(SUM(l_extendedprice)) * 100 + 0.5) / 100e0 *
        (CASE WHEN (SUM(l_extendedprice)) < 0 THEN -1 ELSE 1 END)) AS sum_v3,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus, l_linenumber, l_orderkey, l_partkey,
         l_suppkey
""",
    doc="h2o groupby q10 shape: sum + count by all six keys — the "
        "many-group (~n groups) stressor (ref groupby-datafusion.py"
        ":223-230)",
)
def h2o_groupby_manykey(spark: SparkSession, sf_dir: str) -> DataFrame:
    from arrow_ballista_spark.queries import cround

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_returnflag", "l_linestatus", "l_linenumber", "l_orderkey",
        "l_partkey", "l_suppkey",
    ).agg(
        cround(F.sum("l_extendedprice"), 2).alias("sum_v3"),
        F.count(F.lit(1)).alias("n"),
    )
