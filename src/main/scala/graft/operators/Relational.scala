package graft.operators

import graft.{Q, Tables}
import graft.Util._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Aggregator, Window}

/** The delegated relational surface (SURVEY.md §2.2): every HiveQL-0.9
  * capability the reference enables via Hive, re-expressed with Spark SQL
  * built-ins, each with a DuckDB oracle twin.
  *
  * Determinism rules (see graft.Q scaladoc): decimal-exact aggregation for
  * 2-decimal data, computed integers cast to BIGINT on the Spark side (DuckDB
  * integer functions return BIGINT), dates rendered as strings, explicit
  * NULLS FIRST in oracle ORDER BY (Spark's asc default).
  */
object Relational {

  // Weighted-average UDAF (§2.2 UDAF row): exact decimal accumulation so the
  // result is engine-identical with the DuckDB decimal-sum oracle.
  case class WAvgBuf(num: BigDecimal, den: BigDecimal)
  object WeightedAvg extends Aggregator[(Double, Double), WAvgBuf, Double] {
    private def bd(x: Double) = BigDecimal(java.math.BigDecimal.valueOf(x))
    def zero: WAvgBuf = WAvgBuf(BigDecimal(0), BigDecimal(0))
    def reduce(b: WAvgBuf, a: (Double, Double)): WAvgBuf =
      WAvgBuf(b.num + bd(a._1) * bd(a._2), b.den + bd(a._2))
    def merge(x: WAvgBuf, y: WAvgBuf): WAvgBuf =
      WAvgBuf(x.num + y.num, x.den + y.den)
    def finish(b: WAvgBuf): Double =
      if (b.den == 0) 0.0 else b.num.toDouble / b.den.toDouble
    def bufferEncoder = org.apache.spark.sql.Encoders.product[WAvgBuf]
    def outputEncoder = org.apache.spark.sql.Encoders.scalaDouble
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // Exact decimal views: money/qty (2-dec, <=1e10) and small rates (<=9.99).
  private def m(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
  private def r(c: org.apache.spark.sql.Column) = c.cast("decimal(4,2)")

  val all: Seq[Q] = Seq(

    // ---- projection + filter + aggregation (TPC-H Q1 shape; flagship) ----
    Q("rel_q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      bench = true) { (s, dir) =>
      import s.implicits._
      val disc = m($"l_extendedprice") * (lit(1) - r($"l_discount"))
      // the scale-4/6 sums round to cents BEFORE the double cast: above
      // ~9e15 unscaled units DuckDB's decimal->double goes through an
      // inexact int64->double step and lands one ulp off Spark's correctly
      // rounded BigDecimal cast — rounding keeps the unscaled value inside
      // the exact-integer double range at any realistic SF (sf1 regression)
      t(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          d(sum(m($"l_quantity"))).as("sum_qty"),
          d(sum(m($"l_extendedprice"))).as("sum_base_price"),
          d(round(sum(disc), 2)).as("sum_disc_price"),
          d(round(sum(disc * (lit(1) + r($"l_tax"))), 2)).as("sum_charge"),
          (d(sum(m($"l_quantity"))) / count(lit(1))).as("avg_qty"),
          (d(sum(m($"l_extendedprice"))) / count(lit(1))).as("avg_price"),
          (d(sum(r($"l_discount"))) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // ---- WHERE predicate mix: theta, AND/OR, IN, LIKE, IS NULL ----
    Q("rel_filter_predicates",
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders
        |WHERE (o_orderstatus = 'F' AND o_orderpriority LIKE '1-%')
        |   OR (o_orderstatus IN ('O','P') AND o_totalprice > 250000)
        |   OR o_orderpriority IS NULL
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .filter(($"o_orderstatus" === "F" && $"o_orderpriority".like("1-%")) ||
                ($"o_orderstatus".isin("O", "P") && $"o_totalprice" > 250000) ||
                $"o_orderpriority".isNull)
        .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority", $"o_totalprice")
        .orderBy($"o_orderkey")
    },

    // ---- inner equi-join chain + agg + top-k (TPC-H Q3 shape) ----
    Q("rel_join_inner_q3",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      bench = true) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        .join(t(s, dir, "orders").filter($"o_orderdate" < lit("1998-01-01 00:00:00").cast("timestamp")),
          $"c_custkey" === $"o_custkey")
        .join(t(s, dir, "lineitem").filter($"l_shipdate" > lit("1998-01-01 00:00:00").cast("timestamp")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg(d(sum(m($"l_extendedprice") * (lit(1) - r($"l_discount")))).as("revenue"))
        .select($"l_orderkey", $"revenue", ymd($"o_orderdate").as("orderdate"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },

    // ---- left outer join (customers w/o orders keep NULL-derived zeros) ----
    Q("rel_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("n_orders"),
          d(coalesce(sum(m($"o_totalprice")), lit(0))).as("spend"))
        .orderBy($"c_custkey")
    },

    // ---- right outer join (parts never shipped surface with zero) ----
    Q("rel_join_right",
      """SELECT p_partkey, count(l_orderkey) AS n_ships,
        |  CAST(coalesce(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS revenue
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), $"l_partkey" === $"p_partkey", "right")
        .groupBy($"p_partkey")
        .agg(count($"l_orderkey").as("n_ships"),
          d(coalesce(sum(m($"l_extendedprice")), lit(0))).as("revenue"))
        .orderBy($"p_partkey")
    },

    // ---- full outer join over two pre-aggregated sides ----
    Q("rel_join_full",
      """WITH s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey),
        |     c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey)
        |SELECT coalesce(s.nk, c.nk) AS nationkey, n_supp, n_cust
        |FROM s FULL OUTER JOIN c ON s.nk = c.nk
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val su = t(s, dir, "supplier").groupBy($"s_nationkey".as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      val cu = t(s, dir, "customer").groupBy($"c_nationkey".as("nk2"))
        .agg(count(lit(1)).as("n_cust"))
      su.join(cu, $"nk" === $"nk2", "full")
        .select(coalesce($"nk", $"nk2").as("nationkey"), $"n_supp", $"n_cust")
        .orderBy($"nationkey")
    },

    // ---- left semi join (EXISTS) ----
    Q("rel_join_semi",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter($"o_orderstatus" === "F"),
          $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    // ---- left anti join (NOT EXISTS) ----
    Q("rel_join_anti",
      """SELECT p_partkey, p_name FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "part")
        .join(t(s, dir, "lineitem"), $"p_partkey" === $"l_partkey", "left_anti")
        .select($"p_partkey", $"p_name")
        .orderBy($"p_partkey")
    },

    // ---- cross join ----
    Q("rel_join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select($"r_name", $"n_name")
        .orderBy($"r_name", $"n_name")
    },

    // ---- broadcast (map-side) join, Hive MAPJOIN equivalent ----
    Q("rel_join_broadcast",
      """SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
      bench = true) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_cust"), d(sum(m($"c_acctbal"))).as("total_bal"))
        .orderBy($"n_name")
    },

    // ---- multiway join + broadcast dims (TPC-H Q5 shape) ----
    Q("rel_join_q5_multiway",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders   ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |              JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |              JOIN nation   ON s_nationkey = n_nationkey
        |              JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
      bench = true) { (s, dir) =>
      import s.implicits._
      // Push the region restriction to the FRONT: region('ASIA') ⋈ nation
      // is a 5-row broadcast that prunes customer and supplier to ~1/5
      // BEFORE the fact joins, so the big shuffles carry only surviving
      // rows — left at the end (the SQL's textual order), the largest
      // intermediate hauls all regions and then discards 80%. Catalyst
      // doesn't reorder joins without CBO stats, so the program states the
      // selective order itself. Supplier grows with scale factor — no
      // broadcast hint on it; AQE picks that strategy at runtime. Hints
      // stay only on fixed-cardinality dims (nation=25, region=5 rows at
      // every SF).
      val asia = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")).filter($"r_name" === "ASIA"),
          $"n_regionkey" === $"r_regionkey")
        .select($"n_nationkey", $"n_name")
      t(s, dir, "customer")
        .join(broadcast(asia), $"c_nationkey" === $"n_nationkey")
        .join(t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1997-01-01 00:00:00").cast("timestamp") &&
                  $"o_orderdate" < lit("1999-01-01 00:00:00").cast("timestamp")),
          $"c_custkey" === $"o_custkey")
        .join(t(s, dir, "lineitem"), $"l_orderkey" === $"o_orderkey")
        .join(t(s, dir, "supplier"),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .groupBy($"n_name")
        .agg(d(sum(m($"l_extendedprice") * (lit(1) - r($"l_discount")))).as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    },

    // ---- count(distinct), multiple distinct aggregates ----
    Q("rel_agg_distinct",
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderstatus) AS n_status,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders").groupBy($"o_orderpriority")
        .agg(countDistinct($"o_custkey").as("n_cust"),
          countDistinct($"o_orderstatus").as("n_status"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },

    // ---- ROLLUP with GROUPING indicators ----
    Q("rel_rollup",
      """SELECT CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
        |       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
        |       n_name, c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY g_nation, g_seg, n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer")
        .join(t(s, dir, "nation"), $"c_nationkey" === $"n_nationkey")
        .rollup($"n_name", $"c_mktsegment")
        .agg(grouping($"n_name").cast("bigint").as("g_nation"),
          grouping($"c_mktsegment").cast("bigint").as("g_seg"),
          count(lit(1)).as("n"), d(sum(m($"c_acctbal"))).as("bal"))
        .select($"g_nation", $"g_seg", $"n_name", $"c_mktsegment", $"n", $"bal")
        .orderBy($"g_nation", $"g_seg", $"n_name".asc_nulls_first,
          $"c_mktsegment".asc_nulls_first)
    },

    // ---- CUBE ----
    Q("rel_cube",
      """SELECT CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |       o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(grouping($"o_orderstatus").cast("bigint").as("g_status"),
          grouping($"o_orderpriority").cast("bigint").as("g_prio"),
          count(lit(1)).as("n"), d(sum(m($"o_totalprice"))).as("total"))
        .select($"g_status", $"g_prio", $"o_orderstatus", $"o_orderpriority",
          $"n", $"total")
        .orderBy($"g_status", $"g_prio", $"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    },

    // ---- GROUPING SETS (shared-dialect SQL run through spark.sql) ----
    Q("rel_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, n""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST, n""".stripMargin)
    },

    // ---- set operations: UNION / INTERSECT / EXCEPT ----
    Q("rel_setops",
      """WITH hi AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |     big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 150000)
        |SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM hi EXCEPT SELECT k FROM big) x
        |UNION ALL
        |SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM hi INTERSECT SELECT k FROM big) y
        |UNION ALL
        |SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM hi UNION SELECT k FROM big) z
        |ORDER BY op""".stripMargin) { (s, dir) =>
      import s.implicits._
      val hi = t(s, dir, "customer").filter($"c_acctbal" > 5000)
        .select($"c_custkey".as("k"))
      val big = t(s, dir, "orders").filter($"o_totalprice" > 150000)
        .select($"o_custkey".as("k")).distinct()
      def tag(df: DataFrame, op: String) =
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      tag(hi.except(big), "except")
        .unionAll(tag(hi.intersect(big), "intersect"))
        .unionAll(tag(hi.union(big).distinct(), "union"))
        .orderBy($"op")
    },

    // ---- DISTINCT ----
    Q("rel_distinct",
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders").select($"o_orderstatus", $"o_orderpriority")
        .distinct().orderBy($"o_orderstatus", $"o_orderpriority")
    },

    // ---- global ORDER BY + LIMIT (top-k) ----
    Q("rel_orderby_limit",
      """SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select($"o_orderkey", $"o_totalprice", ymd($"o_orderdate").as("orderdate"))
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(20)
    },

    // ---- ranking window functions + per-group top-k (P2 native form) ----
    Q("rel_window_ranking",
      """SELECT * FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(rank()       OVER w AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |    CAST(ntile(4)     OVER w AS BIGINT) AS nt
        |  FROM customer
        |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |) q WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey")
      t(s, dir, "customer")
        .select($"c_nationkey", $"c_custkey", $"c_acctbal",
          row_number().over(w).cast("bigint").as("rn"),
          rank().over(w).cast("bigint").as("rnk"),
          dense_rank().over(w).cast("bigint").as("drnk"),
          ntile(4).over(w).cast("bigint").as("nt"))
        .filter($"rn" <= 3)
        .orderBy($"c_nationkey", $"rn")
    },

    // ---- analytic window functions: lag/lead/first, running + moving frames ----
    Q("rel_window_analytic",
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  lag(l_quantity)  OVER w AS prev_qty,
        |  lead(l_quantity) OVER w AS next_qty,
        |  first_value(l_quantity) OVER w AS first_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
        |       OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber LIMIT 10000""".stripMargin,
      bench = true) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      val w3 = w.rowsBetween(-2, Window.currentRow)
      t(s, dir, "lineitem")
        .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_quantity",
          lag($"l_quantity", 1).over(w).as("prev_qty"),
          lead($"l_quantity", 1).over(w).as("next_qty"),
          first($"l_quantity").over(w).as("first_qty"),
          d(sum(m($"l_quantity")).over(w)).as("run_qty"),
          (d(sum(m($"l_quantity")).over(w3)) / count(lit(1)).over(w3)).as("mov_avg"))
        .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber").limit(10000)
    },

    // ---- LATERAL VIEW explode (S5 native form) ----
    Q("rel_explode",
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part) x
        |GROUP BY word ORDER BY word""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "part")
        .select(explode(split($"p_type", " ")).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"word")
    },

    // ---- posexplode ----
    Q("rel_posexplode",
      """SELECT p_partkey, CAST(i - 1 AS BIGINT) AS pos, words[i] AS word
        |FROM (SELECT p_partkey, string_split(p_name, ' ') AS words,
        |             unnest(generate_series(1, len(string_split(p_name, ' ')))) AS i
        |      FROM part) x
        |ORDER BY p_partkey, pos""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "part")
        .select($"p_partkey", posexplode(split($"p_name", " ")))
        .select($"p_partkey", $"pos".cast("bigint").as("pos"), $"col".as("word"))
        .orderBy($"p_partkey", $"pos")
    },

    // ---- scalar string functions ----
    Q("rel_scalar_string",
      """SELECT c_custkey,
        |  upper(c_name) AS up, lower(c_mktsegment) AS lo,
        |  substr(c_name, 1, 8) AS pre,
        |  CAST(length(c_name) AS BIGINT) AS len,
        |  c_name || '#' || c_mktsegment AS joined,
        |  replace(c_name, 'Customer', 'C') AS repl,
        |  lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
        |  reverse(c_name) AS rev,
        |  trim('  ' || c_name || ' ') AS trimmed
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "customer").select($"c_custkey",
        upper($"c_name").as("up"), lower($"c_mktsegment").as("lo"),
        substring($"c_name", 1, 8).as("pre"),
        length($"c_name").cast("bigint").as("len"),
        concat($"c_name", lit("#"), $"c_mktsegment").as("joined"),
        regexp_replace($"c_name", "Customer", "C").as("repl"),
        lpad($"c_custkey".cast("string"), 12, "0").as("padded"),
        reverse($"c_name").as("rev"),
        trim(concat(lit("  "), $"c_name", lit(" "))).as("trimmed"))
        .orderBy($"c_custkey")
    },

    // ---- scalar date/time functions ----
    Q("rel_scalar_datetime",
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  CAST(day(o_orderdate) AS BIGINT) AS dd,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mstart,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS mend,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT) AS to_y2k
        |FROM orders ORDER BY o_orderkey LIMIT 10000""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders").select($"o_orderkey",
        year($"o_orderdate").cast("bigint").as("y"),
        month($"o_orderdate").cast("bigint").as("mo"),
        dayofmonth($"o_orderdate").cast("bigint").as("dd"),
        quarter($"o_orderdate").cast("bigint").as("q"),
        dayofweek($"o_orderdate").cast("bigint").as("dow"),
        ymd(date_add($"o_orderdate".cast("date"), 30)).as("plus30"),
        ymd(date_trunc("month", $"o_orderdate")).as("mstart"),
        ymd(last_day($"o_orderdate".cast("date"))).as("mend"),
        datediff(lit("2000-01-01").cast("date"), $"o_orderdate".cast("date"))
          .cast("bigint").as("to_y2k"))
        // top-k (TakeOrderedAndProject), not a full range-exchange sort: the
        // global ORDER BY here is output-determinism insurance only.
        .orderBy($"o_orderkey").limit(10000)
    },

    // ---- scalar math functions ----
    Q("rel_scalar_math",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS adisc,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS cprice,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS fprice,
        |  sqrt(l_quantity) AS sq,
        |  l_quantity * l_quantity AS q2,
        |  l_orderkey % 7 AS m7,
        |  greatest(l_discount, l_tax) AS gdt,
        |  least(l_discount, l_tax) AS ldt
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 10000""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem").select($"l_orderkey", $"l_linenumber",
        abs($"l_discount" - 0.05).as("adisc"),
        ceil($"l_extendedprice").cast("bigint").as("cprice"),
        floor($"l_extendedprice").cast("bigint").as("fprice"),
        sqrt($"l_quantity").as("sq"),
        ($"l_quantity" * $"l_quantity").as("q2"),
        ($"l_orderkey" % 7).as("m7"),
        greatest($"l_discount", $"l_tax").as("gdt"),
        least($"l_discount", $"l_tax").as("ldt"))
        .orderBy($"l_orderkey", $"l_linenumber").limit(10000)
    },

    // ---- CASE WHEN ----
    Q("rel_case_when",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'mid'
        |            ELSE 'large' END AS bucket,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders")
        .select(when($"o_totalprice" < 50000, "small")
          .when($"o_totalprice" < 150000, "mid")
          .otherwise("large").as("bucket"), $"o_totalprice")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n"), d(sum(m($"o_totalprice"))).as("total"))
        .orderBy($"bucket")
    },

    // ---- uncorrelated IN subquery ----
    Q("rel_subquery_in",
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT o_orderkey, o_orderstatus FROM orders
          |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          |ORDER BY o_orderkey""".stripMargin)
    },

    // ---- correlated scalar subquery (decimal-exact avg for determinism) ----
    Q("rel_subquery_correlated",
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
        |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
          |WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
          |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    // ---- CTE + scalar subquery over it (TPC-H Q15 shape) ----
    Q("rel_cte_q15",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_rev
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql(
        """WITH revenue AS (
          |  SELECT l_suppkey AS supplier_no,
          |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_rev
          |  FROM lineitem GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_rev
          |FROM supplier JOIN revenue ON s_suppkey = supplier_no
          |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
          |ORDER BY s_suppkey""".stripMargin)
    },

    // ---- scalar Scala UDF (Hive TRANSFORM/UDF row) ----
    Q("rel_udf_scalar",
      """SELECT c_custkey,
        |  CAST(length(regexp_replace(lower(c_name), '[^aeiou]', '', 'g')) AS BIGINT) AS vowels
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val vowels = udf((x: String) =>
        if (x == null) 0L else x.toLowerCase.count("aeiou".contains(_)).toLong)
      t(s, dir, "customer")
        .select($"c_custkey", vowels($"c_name").as("vowels"))
        .orderBy($"c_custkey")
    },

    // ---- UDAF via Aggregator (Hive UDAF row) ----
    Q("rel_udaf_aggregator",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |    / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val wavg = udaf(WeightedAvg)
      t(s, dir, "lineitem").groupBy($"l_returnflag")
        .agg(wavg($"l_extendedprice", $"l_quantity").as("wavg_price"))
        .orderBy($"l_returnflag")
    },

    // ---- UDTF via custom Catalyst Generator (Hive UDTF row) ----
    Q("rel_udtf_generator",
      """SELECT n_name, substr(n_name, i, 2) AS bigram
        |FROM (SELECT n_name, unnest(generate_series(1, length(n_name) - 1)) AS i
        |      FROM nation) x
        |ORDER BY n_name, bigram""".stripMargin) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n_name, char_bigrams(n_name) AS bigram FROM nation
          |ORDER BY n_name, bigram""".stripMargin)
    },

    // ---- DISTRIBUTE BY + SORT BY (repartition + sortWithinPartitions).
    // The sort is made OBSERVABLE: monotonically_increasing_id() is assigned
    // after the partition-local sort (ids are partition-prefixed and increase
    // in physical row order), then a window in the same sort order asserts the
    // ids are monotone — true iff DISTRIBUTE BY co-located each key and
    // SORT BY ordered it. The window reuses the repartition's hash
    // distribution and the partition-local sort, so no extra exchange. ----
    Q("rel_distribute_cluster",
      """SELECT l_suppkey, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
        |  TRUE AS sorted_ok
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"l_suppkey")
        .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber")
      t(s, dir, "lineitem")
        .repartition($"l_suppkey")
        .sortWithinPartitions($"l_suppkey", $"l_shipdate", $"l_orderkey", $"l_linenumber")
        .withColumn("seq", monotonically_increasing_id())
        .withColumn("prev_seq", lag($"seq", 1).over(w))
        .groupBy($"l_suppkey")
        .agg(count(lit(1)).as("n"), d(sum(m($"l_quantity"))).as("qty"),
          min(coalesce($"seq" > $"prev_seq", lit(true))).as("sorted_ok"))
        .orderBy($"l_suppkey")
    },

    // ---- approx_count_distinct (HLL++). Cross-engine HLL sketches differ, so
    // the oracle checks the exact count plus the *relative-error contract*:
    // |approx - exact| / exact < 5% must hold per group (oracle asserts TRUE);
    // RelationalSpec additionally asserts the numeric bound. ----
    Q("rel_approx_distinct",
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS exact_cust,
        |  TRUE AS approx_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "orders").groupBy($"o_orderpriority")
        .agg(approx_count_distinct($"o_custkey", 0.01).as("approx_cust"),
          countDistinct($"o_custkey").as("exact_cust"))
        .select($"o_orderpriority", $"exact_cust",
          (abs($"approx_cust" - $"exact_cust") / $"exact_cust" < 0.05).as("approx_ok"))
        .orderBy($"o_orderpriority")
    },

    // ---- salted join: the manual skew-mitigation pattern for when one join
    // key dominates (AQE's skew split handles sort-merge skew at runtime;
    // salting is the plan-level form that also works for broadcast-ineligible
    // skewed aggregations). The fact side adds salt = hash(row) % 16; the dim
    // side explodes into 16 copies, one per salt value; the join key becomes
    // (key, salt), so one hot key's rows spread over 16 tasks instead of one.
    // Results are EXACTLY the unsalted join's — the oracle computes the plain
    // join — and the salt columns never escape the query. ----
    Q("rel_join_salted",
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      val salts = 16
      val fact = t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity")
        .withColumn("salt", pmod(xxhash64($"l_orderkey", $"l_quantity"), lit(salts)))
      val dim = t(s, dir, "orders")
        .select($"o_orderkey", $"o_orderpriority")
        .withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L))))
      fact.join(dim, $"l_orderkey" === $"o_orderkey" && fact("salt") === dim("salt"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), d(sum(m($"l_quantity"))).as("qty"))
        .orderBy($"o_orderpriority")
    },

    // ---- approx_percentile (single-pass mergeable quantile sketch). Same
    // contract shape as rel_approx_distinct: cross-engine sketches differ, so
    // the oracle carries the exact rank-based quantile and asserts the
    // RANK-ERROR contract — the approximate p50/p90 must sit within ±2.5% of
    // the group's rank space around the exact quantile (accuracy 10000 gives
    // a 1e-4 theoretical bound; the slack covers implementation detail).
    // Rank error, not value error: that is the guarantee the sketch makes. ----
    Q("rel_approx_percentile",
      """SELECT l_returnflag,
        |  TRUE AS p50_ok,
        |  TRUE AS p90_ok,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val approx = li.groupBy($"l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9), 10000)").as("ap"),
          count(lit(1)).as("n"))
        .select($"l_returnflag", $"ap".getItem(0).as("p50"), $"ap".getItem(1).as("p90"), $"n")
      // exact rank of the approximate quantile inside its group
      val ranks = li.select($"l_returnflag".as("rf"), $"l_extendedprice")
      approx.join(ranks, $"l_returnflag" === $"rf")
        .groupBy($"l_returnflag", $"p50", $"p90", $"n")
        .agg(
          (sum(when($"l_extendedprice" <= $"p50", 1L).otherwise(0L)) / $"n").as("r50"),
          (sum(when($"l_extendedprice" <= $"p90", 1L).otherwise(0L)) / $"n").as("r90"))
        .select($"l_returnflag",
          (abs($"r50" - 0.5) < 0.025).as("p50_ok"),
          (abs($"r90" - 0.9) < 0.025).as("p90_ok"),
          $"n")
        .orderBy($"l_returnflag")
    },

    // ---- AS-OF JOIN: each purchase matched to the same user's latest click
    // at or before it — the point-in-time join Spark has no native operator
    // for (DuckDB's ASOF JOIN is the oracle). Composed from existing ops,
    // option (a) of the custom-operator ladder: UNION the tagged sides, one
    // shuffle+sort by (user, ts), carry the last click timestamp forward
    // with last(ignoreNulls) over an unbounded-preceding window, keep the
    // purchase rows. Cost = one shuffle of clicks+purchases and a linear
    // window pass — the plan a dedicated as-of operator would produce —
    // versus the naive inequality join whose per-user cross product is
    // quadratic in events-per-user at 100 TB. Ties (same µs) break
    // click-first, matching ASOF's p.ts >= c.ts inclusive bound. ----
    Q("rel_asof_join",
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_sec
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val e = t(s, dir, "events")
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_id", $"user_id", $"ts", $"event_type",
          when($"event_type" === "click", $"ts").as("click_ts_raw"),
          when($"event_type" === "click", 0).otherwise(1).as("side"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("click_ts", last($"click_ts_raw", ignoreNulls = true).over(w))
        .filter($"event_type" === "purchase" && $"click_ts".isNotNull)
        .select($"event_id".as("purchase_id"), $"user_id",
          ymdHms($"ts").as("purchase_ts"), ymdHms($"click_ts").as("click_ts"),
          (unix_timestamp($"ts") - unix_timestamp($"click_ts")).cast("bigint").as("gap_sec"))
        .orderBy($"purchase_id")
    },

    // ---- bloom-filtered join (semi-join reduction): aggregate a Bloom
    // filter over the selective dim side's keys and drop non-matching fact
    // rows BEFORE the join shuffle — at 100 TB the shuffle's bytes are the
    // cost, and a 1%-selective dim means ~99% of the fact side never leaves
    // its input task. Built from Spark's OWN runtime-filter expressions
    // (BloomFilterAggregate + BloomFilterMightContain — the pair
    // InjectRuntimeFilter plants when CBO stats line up), so the probe is
    // codegen'd inside the fact scan's WholeStageCodegen and the filter is
    // built distributed (partial aggregates), never on the driver. The
    // 1-row bloom side broadcasts; false positives die in the actual
    // equi-join, so results are EXACTLY the plain join's (the oracle
    // computes the plain join). ----
    Q("rel_join_bloom",
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val dim = t(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 250000)
        .select($"o_orderkey", $"o_orderpriority")
      // scalar subquery (the shape might_contain requires): the bloom is
      // aggregated distributed-side, then lands in the probe as a literal
      val bloom = dim.agg(expr("bloom_agg(xxhash64(o_orderkey), 100000L)")).scalar()
      t(s, dir, "lineitem")
        .select($"l_orderkey", $"l_quantity")
        .filter(call_function("bloom_might_contain", bloom, xxhash64($"l_orderkey")))
        .join(dim, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_items"), d(sum(m($"l_quantity"))).as("qty"))
        .orderBy($"o_orderpriority")
    },

    // ---- bucketed co-located join: both sides pre-bucketed AND pre-sorted
    // on the join key, so the sort-merge join runs with ZERO exchanges and
    // zero sorts — each task merges bucket i of both tables in place. At
    // 100 TB this is THE join strategy for repeatedly-joined fact tables:
    // the shuffle is paid once at write time and amortized over every
    // subsequent join; the same layout also makes the per-key groupBy
    // below exchange-free. The merge hint pins SMJ so the demo can't
    // degrade to a broadcast at test SF (where orders would fit); the
    // RelationalSpec asserts the executed plan has no shuffle between the
    // bucketed scans and the join. ----
    Q("rel_join_bucketed",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      import s.implicits._
      // database keyed on the data dir: concurrent sessions over different
      // SFs (bench vs verify vs tests) get disjoint warehouse paths instead
      // of racing on one shared /tmp/graft_warehouse/graft_buck.db
      val db = "graft_buck_" +
        (scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff).toHexString
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      // the in-memory catalog forgets managed tables across sessions while
      // their warehouse directories persist — clear both before (re)writing
      def reset(name: String): Unit = {
        s.sql(s"DROP TABLE IF EXISTS $db.$name")
        val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        graft.sources.cassandralike.CellStore.dropTable(s"$wh/$db.db/$name")
      }
      reset("orders_b"); reset("lineitem_b")
      t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"$db.orders_b")
      t(s, dir, "lineitem").select($"l_orderkey", $"l_quantity")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.lineitem_b")
      s.table(s"$db.lineitem_b")
        .join(s.table(s"$db.orders_b").hint("merge")
            .filter($"o_orderpriority" === "1-URGENT"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_orderkey")
        .agg(d(sum(m($"l_quantity"))).as("qty"),
          d(max(m($"o_totalprice"))).as("totalprice"))
        .orderBy($"l_orderkey")
        .limit(100)
    },

    // ---- PIVOT: long-to-wide reshape with per-value conditional
    // aggregates. Spark's groupBy().pivot(col, values) with EXPLICIT pivot
    // values compiles to one pass of conditional aggregation — the same
    // partial-aggregating single shuffle as any groupBy. (Omitting the
    // value list makes Spark run a distinct-scan first to discover columns
    // — a second pass worth avoiding at 100 TB when the domain is known.) ----
    Q("rel_pivot",
      """SELECT user_id % 10 AS user_bucket,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy(($"user_id" % 10).as("user_bucket"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select($"user_bucket" +: Seq("click", "error", "purchase", "signup", "view")
          .map(c => coalesce(col(c), lit(0L)).cast("bigint").as(c)): _*)
        .orderBy($"user_bucket")
    },

    // ---- semi-structured JSON extraction: pull a typed field out of the
    // raw JSON props column with get_json_object (codegen'd path walk, no
    // UDF) and aggregate on it — the schema-on-read shape for event
    // payloads that don't share a fixed schema. ----
    Q("rel_json_extract",
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "events")
        .groupBy((get_json_object($"props", "$.k").cast("bigint") % 10).as("k_mod"))
        .agg(count(lit(1)).cast("bigint").as("n"), d(sum(m($"value"))).as("total"))
        .orderBy($"k_mod")
    },

    // ---- single-pass dataset profiling (ANALYZE-style): row count, exact
    // distinct cardinalities, min/max ranges, and a null count in ONE scan
    // — every aggregate partial-merges, so at 100 TB this is one pass over
    // the data and one tiny final reduce, where per-column separate passes
    // would re-scan the table per statistic. ----
    Q("rel_profile_stats",
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS orderkey_distinct,
        |  count(DISTINCT l_returnflag) AS flag_distinct,
        |  CAST(min(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_min,
        |  CAST(max(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_max,
        |  min(l_returnflag) AS flag_min, max(l_returnflag) AS flag_max,
        |  strftime(min(l_shipdate), '%Y-%m-%d') AS ship_min,
        |  strftime(max(l_shipdate), '%Y-%m-%d') AS ship_max,
        |  CAST(count(*) - count(l_tax) AS BIGINT) AS tax_nulls
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import s.implicits._
      t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"l_orderkey").as("orderkey_distinct"),
        countDistinct($"l_returnflag").as("flag_distinct"),
        d(min(m($"l_quantity"))).as("qty_min"),
        d(max(m($"l_quantity"))).as("qty_max"),
        min($"l_returnflag").as("flag_min"), max($"l_returnflag").as("flag_max"),
        ymd(min($"l_shipdate")).as("ship_min"), ymd(max($"l_shipdate")).as("ship_max"),
        (count(lit(1)) - count($"l_tax")).cast("bigint").as("tax_nulls"))
    }
  )
}
