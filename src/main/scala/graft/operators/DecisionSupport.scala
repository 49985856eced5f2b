package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Decision-support query shapes [EXT] — the remaining canonical TPC-H
 * patterns the surface lacked: EXISTS-then-aggregate (Q4), dual-role
 * dimension joins (Q7), conditional-share aggregates (Q8/Q14),
 * returned-items top-k (Q10), max-of-aggregate scalar join-back (Q15),
 * distinct-count with a NOT-IN blacklist (Q16), correlated per-group
 * average (Q17), disjunctive multi-column join predicates (Q19),
 * anti-join against a global scalar (Q22), plus the partsupp-dependent
 * shapes re-expressed over lineitem (the testdata has no partsupp
 * table): groupwise-min supplier selection (Q2), HAVING-versus-global-
 * total (Q11), and nested-aggregate excess-supplier selection (Q20).
 *
 * Scale notes shared by the file:
 *  - every dimension join (nation/region/supplier/customer/part) is
 *    broadcast — the only shuffles left are fact-side aggregations and
 *    the orders ⋈ lineitem equi-join on the order key;
 *  - one-row scalars (global averages, max-of-agg, grand totals) are
 *    computed as separate tiny aggregates and crossJoin-broadcast back,
 *    never re-derived per row — at 100 TB the scalar is one job whose
 *    result is literally one row on the wire;
 *  - money arithmetic uses Tables.dec/dsum (exact decimal, cast to
 *    double only at the output boundary) so results are reproducible
 *    bit-for-bit against any engine regardless of partitioning.
 */
object DecisionSupport {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  // ------------------------------------------------------------- Q4 shape
  /**
   * Order-priority count over an EXISTS probe: orders in a window that
   * have at least one late lineitem. The semi-join keeps the aggregate's
   * input to one row per qualifying order — no row multiplication from
   * multi-line orders, and the probe side carries only (orderkey,
   * shipdate). At scale the semi-join shuffles both sides on the order
   * key once; the aggregate output is ≤ |priorities| rows.
   */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
              col("o_orderdate") <  ts("1997-01-01"))
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
    ord.join(li,
             col("l_orderkey") === col("o_orderkey") &&
             col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"),
             "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  // ------------------------------------------------------------- Q7 shape
  /**
   * Volume shipping between nation pairs: the same dimension table joined
   * twice in different roles (supplier nation vs customer nation). Both
   * nation sides are pre-filtered to the named nation set BEFORE joining,
   * so the fact rows that survive the two broadcast joins are already the
   * ~(4/|nations|)² slice; the inequality filter then only removes the
   * same-nation combinations.
   */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_1", "NATION_2", "NATION_3", "NATION_4")
    val n1 = t(spark, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = t(spark, dir, "nation").filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val sup  = t(spark, dir, "supplier").join(broadcast(n1), col("s_nationkey") === col("sk"))
    val cust = t(spark, dir, "customer").join(broadcast(n2), col("c_nationkey") === col("ck"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1998-01-01"))
    li.join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust.select(col("c_custkey"), col("cust_nation"))),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup.select(col("s_suppkey"), col("supp_nation"))),
            col("l_suppkey") === col("s_suppkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
               year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
  }

  val q7Sql: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |       year(l_shipdate) AS l_year,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders   ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey  = o_custkey
      |JOIN supplier ON s_suppkey  = l_suppkey
      |JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |JOIN nation n2 ON n2.n_nationkey = c_nationkey
      |WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      |  AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      |  AND n1.n_name <> n2.n_name
      |  AND l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------- Q8 shape
  /**
   * Market share: what fraction of EUROPE customers' PROMO-part purchase
   * volume comes from NATION_3 suppliers, per order year. The share is a
   * conditional aggregate over ONE pass (sum-if / sum), not two scans; the
   * numerator and denominator are exact decimals, divided as doubles only
   * at the end (identical operands ⇒ identical quotient on any engine).
   */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val eurNations = t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("eur_nk"))
    val cust = t(spark, dir, "customer")
      .join(broadcast(eurNations), col("c_nationkey") === col("eur_nk"))
      .select(col("c_custkey"))
    val suppNation = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val promoParts = t(spark, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val vol = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
    t(spark, dir, "lineitem")
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double") /
        sum(vol).cast("double"), 9).as("mkt_share"))
  }

  val q8Sql: String =
    """SELECT year(o_orderdate) AS o_year,
      |  round(
      |    CAST(SUM(CASE WHEN n1.n_name = 'NATION_3'
      |                  THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
      |    9) AS mkt_share
      |FROM lineitem
      |JOIN part     ON p_partkey  = l_partkey
      |JOIN orders   ON o_orderkey = l_orderkey
      |JOIN supplier ON s_suppkey  = l_suppkey
      |JOIN nation n1 ON n1.n_nationkey = s_nationkey
      |WHERE p_type = 'PROMO'
      |  AND EXISTS (SELECT 1 FROM customer c
      |              JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      |              JOIN region r  ON r.r_regionkey  = n2.n_regionkey
      |              WHERE c.c_custkey = o_custkey AND r.r_name = 'EUROPE')
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ Q10 shape
  /**
   * Returned-item revenue per customer, top 20. Aggregates BEFORE the
   * customer detail join would be ideal, but the group key IS the customer
   * — so the aggregate keys on custkey and the (broadcast) detail join
   * happens after the groupBy on ≤|customers| rows, then TakeOrdered
   * merges per-partition top-20s without a global sort.
   */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-10-01") && col("o_orderdate") < ts("1997-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"))
    perCust
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  c_acctbal, n_name
      |FROM lineitem
      |JOIN orders   ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey  = o_custkey
      |JOIN nation   ON n_nationkey = c_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-10-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  // ------------------------------------------------------------ Q14 shape
  /**
   * Promo revenue share for one ship month: a single-row conditional
   * fraction. One fact scan, one broadcast dim join, no shuffle at all
   * beyond the final 1-row aggregate.
   */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val vol = dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount")))
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-05-01") && col("l_shipdate") < ts("1997-06-01"))
      .join(broadcast(t(spark, dir, "part").select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) *
        sum(when(col("p_type") === "PROMO", vol).otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
        sum(vol).cast("double"), 9).as("promo_revenue"))
  }

  val q14Sql: String =
    """SELECT round(
      |  100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
      |  9) AS promo_revenue
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE l_shipdate >= TIMESTAMP '1997-05-01'
      |  AND l_shipdate <  TIMESTAMP '1997-06-01'""".stripMargin

  // ------------------------------------------------------------ Q15 shape
  /**
   * Top supplier(s) by quarterly revenue: aggregate → scalar max of the
   * aggregate → equi-filter back. The max is a one-row broadcast; the
   * equality is on the EXACT decimal (not the double projection), so
   * "equal to the max" is well-defined. At scale this is two jobs over
   * one shuffled aggregate, never a global sort.
   */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .as("total_rev_d"))
    val mx = rev.agg(max(col("total_rev_d")).as("max_rev_d"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev_d") === col("max_rev_d"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_d").cast("double").as("total_rev"))
  }

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev_d
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate <  TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev_d AS DOUBLE) AS total_rev
      |FROM rev JOIN supplier ON s_suppkey = l_suppkey
      |WHERE total_rev_d = (SELECT MAX(total_rev_d) FROM rev)""".stripMargin

  // ------------------------------------------------------------ Q17 shape
  /**
   * Small-quantity revenue: lineitems of one brand's parts whose quantity
   * is under 20% of that part's average quantity. The correlated per-part
   * average is a groupBy on the SAME brand-filtered slice (the part key
   * determines the brand, so restricting the average's input to the
   * brand's parts is exactly the correlation domain), joined back
   * broadcast — the 100 TB cost is one extra aggregate over the filtered
   * slice, not a per-row subquery.
   */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = t(spark, dir, "part").filter(col("p_brand") === "Brand#5")
      .select(col("p_partkey"))
    val liBrand = t(spark, dir, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
    val avgQty = liBrand.groupBy(col("l_partkey").as("ap"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    liBrand.join(broadcast(avgQty), col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand = 'Brand#5'
      |  AND l.l_quantity < 0.2 * (SELECT SUM(l2.l_quantity) / COUNT(*)
      |                            FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)""".stripMargin

  // ------------------------------------------------------------ Q19 shape
  /**
   * Disjunctive multi-column join predicate (brand × size × quantity
   * bands). The part-side conjuncts of each disjunct can't individually
   * push below the join, but the UNION of the part filters
   * (brand ∈ {1,2,3}) can and does — Catalyst derives it from the
   * disjunction, so the broadcast build side is pre-pruned.
   */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val p  = t(spark, dir, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bands =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15)  && col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) && col("l_quantity").between(10, 35)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) && col("l_quantity").between(20, 50))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey") && bands)
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q19Sql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  // ------------------------------------------------------------ Q22 shape
  /**
   * Idle wealthy customers: balance above the global positive average AND
   * no orders since 1999 (every customer in the synthetic data has SOME
   * order, so Q22's "no orders at all" is re-dated to "none recent" —
   * same anti-join shape). The global average is a one-row broadcast
   * scalar; the recency test is an anti-join whose right side is
   * date-pruned at the scan, shuffling only custkeys. Grouped by nation
   * for the report.
   */
  def q22IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val recent = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1999-01-01"))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
  }

  val q22Sql: String =
    """WITH avg_bal AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_nationkey, COUNT(*) AS numcust,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer, avg_bal
      |WHERE c_acctbal > avg_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
      |GROUP BY c_nationkey""".stripMargin

  // ------------------------------------------------------------- Q2 shape
  /**
   * Groupwise-min supplier selection (TPC-H Q2 re-expressed over lineitem
   * — no partsupp table in the testdata): for each small part, the
   * supplier(s) whose observed unit price floor is the part's minimum.
   * The correlated MIN scalar subquery becomes aggregate → min-of-
   * aggregate → join back on (key, exact-min) — two shuffled aggregates
   * and one broadcast-right join, no per-row subquery execution.
   */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    // the output filter (small parts) is also an INPUT filter: min-cost
    // per part only depends on that part's rows, so semi-joining the
    // fact rows down to the ~20% qualifying parts BEFORE the two
    // aggregates shrinks both shuffles by the same factor (measured
    // 1.63 s → 0.9 s at sf0.1). The oracle leaves the CTE unfiltered
    // and lets DuckDB decide — same result either way.
    val smallParts = t(spark, dir, "part").filter(col("p_size") < 10)
      .select(col("p_partkey"))
    val ps = t(spark, dir, "lineitem")
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("cost"))
    val mn = ps.groupBy(col("l_partkey").as("mp"))
      .agg(min(col("cost")).as("mcost"))
    ps.join(mn, col("l_partkey") === col("mp") && col("cost") === col("mcost"))
      .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("s_name"), col("n_name"), col("cost"))
  }

  val q2Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT p.p_partkey, s.s_name, n.n_name, ps.cost
      |FROM ps
      |JOIN part p     ON p.p_partkey  = ps.l_partkey
      |JOIN supplier s ON s.s_suppkey  = ps.l_suppkey
      |JOIN nation n   ON n.n_nationkey = s.s_nationkey
      |WHERE p.p_size < 10
      |  AND ps.cost = (SELECT MIN(p2.cost) FROM ps p2
      |                 WHERE p2.l_partkey = ps.l_partkey)""".stripMargin

  // ------------------------------------------------------------ Q16 shape
  /**
   * Parts-supplier stats: distinct suppliers per (brand, type, size),
   * excluding a supplier blacklist (TPC-H Q16's NOT IN subquery —
   * lowered to a broadcast anti-join, never a per-row probe). The
   * distinct-count shuffles (group, suppkey) pairs once; the blacklist
   * (negative-balance suppliers) is dimension-sized.
   */
  def q16PartsSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val bad = t(spark, dir, "supplier").filter(col("s_acctbal") < 0)
      .select(col("s_suppkey"))
    t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(t(spark, dir, "part").filter(col("p_brand") =!= "Brand#1")
              .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
            col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size,
      |       COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------ Q20 shape
  /**
   * Excess suppliers: suppliers who shipped more than 3× their fair
   * share of some multi-supplier part's total quantity (TPC-H Q20's
   * nested-aggregate + semi-join chain, re-expressed over lineitem —
   * no partsupp table; the threshold is fair-share-relative because a
   * fixed percentage goes empty as parts accumulate lineitems with
   * scale). Two stacked aggregates on the part key (the second reuses
   * the first's partitioning) and a final per-supplier rollup of
   * dimension size. Quantities are integer-valued doubles, so the sums
   * and the share ratio compare identically everywhere.
   */
  def q20ExcessSuppliers(spark: SparkSession, dir: String): DataFrame = {
    // ONE exchange feeds the whole nested-aggregate chain: pre-partition
    // the (3-column) fact projection on the part key, so the (part,supp)
    // aggregate, the per-part re-aggregate AND the pq⋈pt join all
    // inherit HashPartitioning(l_partkey) — the fair-share computation
    // needs part-locality anyway. Replaces the 3-exchange stack whose
    // per-stage AQE launch cost dominated this query's ~1.0 s at sf0.1
    // (r14 floor decomposition); only the dimension-sized per-supplier
    // rollup below re-shuffles.
    val byPart = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .repartition(col("l_partkey"))
    val pq = byPart
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
    val pt = pq.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("q")).as("tot"), count(lit(1)).as("ns"))
    pq.join(pt, col("l_partkey") === col("pk"))
      .filter(col("ns") > 1 && col("q") > lit(3.0) * col("tot") / col("ns"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_parts"), max(col("q")).as("max_qty"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_parts"), col("max_qty"))
  }

  val q20Sql: String =
    """WITH pq AS (
      |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |pt AS (SELECT l_partkey, SUM(q) AS tot, COUNT(*) AS ns FROM pq GROUP BY 1),
      |ex AS (
      |  SELECT l_suppkey, COUNT(*) AS n_parts, MAX(q) AS max_qty
      |  FROM pq JOIN pt USING (l_partkey)
      |  WHERE ns > 1 AND q > 3.0 * tot / ns
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, n_parts, max_qty
      |FROM ex JOIN supplier ON s_suppkey = l_suppkey""".stripMargin

  // ------------------------------------------------------------ Q11 shape
  /**
   * Important parts: parts whose revenue exceeds 1.2× the mean per-part
   * revenue (TPC-H Q11's HAVING-against-global-scalar, over lineitem;
   * the threshold is mean-relative rather than Q11's fixed fraction so
   * the predicate stays selective-but-nonempty at every scale factor).
   * The grand total is NOT recomputed from the fact table — it is the
   * sum/count of the already-aggregated per-part rows, so the second
   * pass costs O(|parts|), and the scalar is broadcast.
   */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    // pr is consumed TWICE (the grand-total scalar and the final filter);
    // the broadcast of tot leaves no matching exchange for AQE to reuse,
    // so uncut the fact-table scan+aggregate ran twice (the
    // q21/mad_outliers finding). pr is 2 narrow columns — the
    // cut-vs-rescan column-width call lands on cut (sf1 quiet run:
    // 1.37 → 1.20 s; at 100 TB the saved second fact scan dominates).
    val pr = Checkpoints.cut(
      t(spark, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(dec(col("l_extendedprice"))).as("rev_d")),
      eager = false)
    val tot = pr.agg(sum(col("rev_d")).as("tot_d"), count(lit(1)).as("n_parts"))
    pr.crossJoin(broadcast(tot))
      .filter(col("rev_d").cast("double") >
              lit(1.2) * col("tot_d").cast("double") / col("n_parts"))
      .select(col("l_partkey"), col("rev_d").cast("double").as("revenue"))
  }

  val q11Sql: String =
    """WITH pr AS (
      |  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_d
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT CAST(SUM(rev_d) AS DOUBLE) AS tot_d, COUNT(*) AS n_parts FROM pr)
      |SELECT l_partkey, CAST(rev_d AS DOUBLE) AS revenue
      |FROM pr, tot
      |WHERE CAST(rev_d AS DOUBLE) > 1.2 * tot_d / n_parts""".stripMargin

  // ------------------------------------------------------------- Q9 shape
  /**
   * Product-type profit (TPC-H Q9, the last five-table join shape):
   * profit per (supplier nation, order year) over a part-name pattern,
   * with supply cost re-expressed as a retail-price fraction
   * (`0.6 × p_retailprice × l_quantity`) — the testdata has no partsupp
   * table, the same re-expression q2/q20 use. All arithmetic stays in
   * exact DECIMAL until the output cast, so the sum is reproducible
   * bit-for-bit under any partitioning.
   *
   * Scale shape: the ONLY shuffles are the orders ⋈ lineitem equi-join
   * on the order key and the final small aggregate; part (pattern-
   * filtered), supplier, and nation are broadcast. The name-pattern
   * filter lands on the broadcast side, so the fact scan is pruned by
   * the join itself, exactly how Q9 should run at 100 TB.
   */
  def q9ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val redParts = t(spark, dir, "part").filter(col("p_name").like("%red%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val one = lit(1).cast("decimal(18,2)")
    val costF = lit(0.6).cast("decimal(18,2)")
    t(spark, dir, "lineitem")
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(t(spark, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))) -
               costF * dec(col("p_retailprice")) * dec(col("l_quantity")))
             .cast("double").as("profit"))
  }

  val q9Sql: String =
    """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |           - CAST(0.6 AS DECIMAL(18,2))
      |             * CAST(p_retailprice AS DECIMAL(18,2))
      |             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part     ON p_partkey   = l_partkey AND p_name LIKE '%red%'
      |JOIN supplier ON s_suppkey   = l_suppkey
      |JOIN nation   ON n_nationkey = s_nationkey
      |JOIN orders   ON o_orderkey  = l_orderkey
      |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ Q12 shape
  /**
   * Priority line counts (TPC-H Q12's conditional CASE-sum pair): for
   * lineitems shipped inside a one-year window, count high-priority
   * (URGENT/HIGH) versus other orders per lineitem category. The
   * testdata carries no l_shipmode/l_receiptdate, so the group key is
   * l_returnflag and the window predicate rides l_shipdate — the shape
   * (fact window filter, one orders equi-join, two complementary
   * CASE-sums) is Q12's exactly.
   *
   * Scale shape: the window filter prunes the fact scan (pushed to
   * parquet), the join shuffles only (orderkey, returnflag) against
   * (orderkey, priority), and the output is |returnflag| rows.
   */
  def q12PriorityLines(spark: SparkSession, dir: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
              col("l_shipdate") <  ts("1998-01-01"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
           sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
  }

  val q12Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01'
      |GROUP BY 1""".stripMargin
}
