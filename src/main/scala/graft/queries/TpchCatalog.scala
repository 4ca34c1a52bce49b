package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import Parity._

/** Relational analytics catalog over the TPC-H-ish testdata
  * (/root/repo/TESTDATA.md). Covers the operator classes inventoried in
  * SURVEY.md §2 that the reference declares-or-implies but never implements
  * (joins J1, aggregations A3-A5, windows §2.5, sorts/limits §2.6, set ops
  * §2.7, scalar lib F7): each entry is a named query with a DuckDB oracle.
  *
  * Determinism rules (see SURVEY.md §7.3): every query ends in a total
  * ORDER BY; double aggregates go through [[Parity]] (decimal-exact sums);
  * null ordering is spelled explicitly wherever a key can be null.
  *
  * Scale posture: joins against region/nation/supplier/part are broadcast
  * (dimension tables); fact-fact joins shuffle on their keys and rely on
  * AQE for skew/coalesce at cluster scale.
  */
object TpchCatalog {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- scans

  /** TPC-H Q1-style pricing summary: scan + filter + hash aggregate + sort.
    * Flagship query (SparkEntry.entry runs it on sf0.001). */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    li.filter(col("l_shipdate") <= lit("2000-06-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("sum_disc_price"),
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount"), lit(1.0) + col("l_tax")).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSum("l_quantity")} AS sum_qty,
       |  ${sqlSum("l_extendedprice")} AS sum_base_price,
       |  ${sqlSumProd("l_extendedprice", "1.0 - l_discount")} AS sum_disc_price,
       |  ${sqlSumProd("l_extendedprice", "1.0 - l_discount", "1.0 + l_tax")} AS sum_charge,
       |  ${sqlAvg("l_quantity")} AS avg_qty,
       |  ${sqlAvg("l_extendedprice")} AS avg_price,
       |  ${sqlAvg("l_discount")} AS avg_disc,
       |  COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-06-01'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Predicate + projection pushdown to the parquet scan (P4, F7). */
  def scanFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1996-07-01").cast("timestamp") &&
              col("l_quantity") > 45)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  val scanFilterSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
      |  AND l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Derived-column projection (P2-style arithmetic; per-row IEEE ops are
    * bit-identical across engines so no decimal guard needed). */
  def deriveMargin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("charge"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(5000)

  val deriveMarginSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice * (1.0 - l_discount) AS revenue,
      |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber
      |LIMIT 5000""".stripMargin

  /** Top-k: orderBy+limit compiles to TakeOrderedAndProject (no full sort
    * materialization — L2/§2.6). */
  def topK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  val topKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  /** TPC-H Q3-style shipping priority: revenue of not-yet-shipped items
    * for one segment's orders — filter-heavy 3-way join + top-10. */
  def shipPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val shipPrioritySql: String =
    s"""SELECT o_orderkey, o_orderdate,
       |  ${sqlSumProd("l_extendedprice", "1.0 - l_discount")} AS revenue
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1996-01-01'
       |  AND l_shipdate  > TIMESTAMP '1996-01-01'
       |GROUP BY o_orderkey, o_orderdate
       |ORDER BY revenue DESC, o_orderkey ASC
       |LIMIT 10""".stripMargin

  /** TPC-H Q6-style revenue forecast: tight scan-side predicate band →
    * single global aggregate (the pushdown-and-prune showcase). */
  def revenueForecast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.02, 0.06) &&
        col("l_quantity") < 24)
      .agg(dsumProd(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  val revenueForecastSql: String =
    s"""SELECT ${sqlSumProd("l_extendedprice", "l_discount")} AS revenue, COUNT(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
       |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------- joins

  /** Inner equi-join fact⋈dim + grouped agg (J1). customer is small enough
    * to broadcast at any SF where it fits (dimension-style); the groupBy
    * then shuffles only the joined projection. */
  def joinInner(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy("c_mktsegment")
  }

  val joinInnerSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders, ${sqlSum("o_totalprice")} AS revenue
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment
       |ORDER BY c_mktsegment""".stripMargin

  /** TPC-H Q5-style 5-table join: broadcast the dimension chain
    * (region⋈nation⋈customer), shuffle-join the fact tables. */
  def joinMulti(spark: SparkSession, sfDir: String): DataFrame = {
    val r  = Tables.region(spark, sfDir)
    val n  = Tables.nation(spark, sfDir)
    val c  = Tables.customer(spark, sfDir)
    val o  = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  val joinMultiSql: String =
    s"""SELECT r_name, n_name,
       |  ${sqlSumProd("l_extendedprice", "1.0 - l_discount")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join (EXISTS): customers having at least one big order. */
  def semiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  val semiJoinSql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no order above 300k.
    * The anti side is FILTERED so the result is non-trivial at every SF
    * (the unfiltered "no orders at all" form is vacuously empty below
    * sf0.1 — every customer has an order — and a 0-row match proves
    * nothing about anti-join semantics). */
  def antiJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-outer join preserving order-less customers (J1 outer variant). */
  def outerJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  val outerJoinSql: String =
    """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Equi+theta join (J1 range/theta variant): same-nation supplier/customer
    * pairs where the supplier out-balances the customer. Equi key keeps it
    * hash-joinable; the theta predicate is a post-join filter. */
  def thetaJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    s.join(c, s("s_nationkey") === c("c_nationkey") && s("s_acctbal") > c("c_acctbal"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("n_name")
  }

  val thetaJoinSql: String =
    """SELECT n_name, COUNT(*) AS n_pairs
      |FROM supplier
      |JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
      |JOIN nation   ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // --------------------------------------------------------- aggregations

  /** ROLLUP hierarchy totals (A4). NULLS FIRST is spelled on both sides:
    * Spark defaults ASC→nulls-first but DuckDB defaults ASC→nulls-last. */
  def aggRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val aggRollupSql: String =
    s"""SELECT r_name, n_name, COUNT(*) AS n_customers, ${sqlSum("c_acctbal")} AS acctbal
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP (r_name, n_name)
       |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** CUBE over two independent dimensions (A4). */
  def aggCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val aggCubeSql: String =
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
       |FROM orders
       |GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS with grouping() flags — the general form
    * that [[aggRollup]]/[[aggCube]] specialize: an asymmetric set list
    * ((flag, status), (flag), (status)) that neither rollup nor cube
    * produces (cube adds the grand total; rollup skips the
    * status-only cut). Through the spark.sql entry point; the
    * grouping() flags disambiguate a genuine NULL group key from a
    * superaggregate row. Same shuffle shape as cube: one expand +
    * partial/final aggregation. */
  def groupingSetsQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("v_lineitem")
    spark.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
         |  CAST(grouping(l_linestatus) AS INT) AS g_status,
         |  COUNT(*) AS n, ${sqlSum("l_quantity")} AS qty
         |FROM v_lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
         |ORDER BY g_flag, g_status,
         |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  val groupingSetsSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       |  COUNT(*) AS n, ${sqlSum("l_quantity")} AS qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
       |ORDER BY g_flag, g_status,
       |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Exact distinct counts per group (A1/A2 exact path). */
  def countDistinct_(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val countDistinctSql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Approximate distinct via HyperLogLog++ (A5). Sketch values are
    * engine-specific, so this entry has NO oracle (driver does a rows-only
    * check); correctness vs exact counts is asserted in ApproxSpec. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"))
      .orderBy("l_returnflag")

  /** The engine's OWN distinct-count sketch with hash-checkable state
    * ([[graft.plans.HllRegistersAgg]]) — the oracle-graduated complement
    * to [[approxDistinct]] (whose built-in sketch internals are
    * engine-specific by nature): md5-derived item hashes make every
    * register (bucket → max rank) pure integer arithmetic, so DuckDB
    * rebuilds the full 2^p register vector and the driver hash-checks
    * the sketch STATE cell-exact. The float estimate stays out of the
    * oracle on purpose (ln/pow are last-ULP territory); HllSpec pins
    * its accuracy and the max-merge's partition invariance. */
  def hllRegistersQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.HllRegistersAgg
    Tables.lineitem(spark, sfDir)
      .agg(HllRegistersAgg.hllRegisters(col("l_partkey").cast("string"), HllP).as("regs"))
      .select(posexplode(col("regs")).as(Seq("bucket", "rank")))
      .select(col("bucket").cast("long").as("bucket"), col("rank"))
      .orderBy("bucket")
  }

  private val HllP = 6

  /** [[hllRegistersQ]] driven entirely through the SQL surface
    * (`q_hll_sql`): the `hll_registers` function that
    * [[graft.plans.GraftExtensions]] injects into every recipe session,
    * called from `spark.sql` over a temp view, with the generator
    * explode also in SQL. Shares [[hllRegistersSql]]'s oracle — a
    * SQL-path registration that mangled arguments, lost the aggregate's
    * partial merge, or mis-bound the function would diverge from the
    * DataFrame twin's oracle-checked registers. */
  def hllRegistersSqlQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_li_sqlv")
    spark.sql(
      s"""SELECT CAST(bucket AS BIGINT) AS bucket, rank
         |FROM (
         |  SELECT posexplode(regs) AS (bucket, rank)
         |  FROM (SELECT hll_registers(CAST(l_partkey AS STRING), $HllP) AS regs
         |        FROM graft_li_sqlv)
         |)
         |ORDER BY bucket""".stripMargin)
  }

  val hllRegistersSql: String = {
    val m = 1 << HllP
    val wBits = 64 - HllP
    // rank = wBits − bitlength(w) + 1, spelled as an exact integer
    // threshold chain (2^i ≤ w → bitlength i+1); w = 0 ranks wBits + 1
    val chain = (wBits - 1 to 0 by -1)
      .map(i => s"WHEN w >= ${1L << i} THEN ${wBits - i}").mkString(" ")
    s"""WITH h AS (
      |  SELECT md5_number_upper(CAST(l_partkey AS VARCHAR) || '|hll') AS h
      |  FROM lineitem
      |), br AS (
      |  SELECT CAST(h % $m AS BIGINT) AS bucket, h // $m AS w FROM h
      |)
      |SELECT r.range AS bucket,
      |  CAST(COALESCE(MAX(CASE WHEN w = 0 THEN ${wBits + 1} $chain END), 0) AS INTEGER) AS rank
      |FROM range(0, $m) r
      |LEFT JOIN br ON br.bucket = r.range
      |GROUP BY r.range
      |ORDER BY bucket""".stripMargin
  }

  // ---------------------------------------------------------------- set ops

  /** UNION ALL of two tagged slices then re-aggregate (§2.7). */
  def unionSlices(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val a = li.filter(year(col("l_shipdate")) === 1995)
      .select(lit("y1995").as("slice"), col("l_returnflag"), col("l_quantity"))
    val b = li.filter(year(col("l_shipdate")) === 1996)
      .select(lit("y1996").as("slice"), col("l_returnflag"), col("l_quantity"))
    a.union(b)
      .groupBy(col("slice"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy("slice", "l_returnflag")
  }

  val unionSlicesSql: String =
    s"""SELECT slice, l_returnflag, COUNT(*) AS n, ${sqlSum("l_quantity")} AS qty
       |FROM (
       |  SELECT 'y1995' AS slice, l_returnflag, l_quantity FROM lineitem
       |  WHERE EXTRACT(year FROM l_shipdate) = 1995
       |  UNION ALL
       |  SELECT 'y1996' AS slice, l_returnflag, l_quantity FROM lineitem
       |  WHERE EXTRACT(year FROM l_shipdate) = 1996
       |)
       |GROUP BY slice, l_returnflag
       |ORDER BY slice, l_returnflag""".stripMargin

  /** INTERSECT (set semantics in both engines): customers with both an open
    * and a fulfilled order. */
  def intersectKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  val intersectKeysSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** EXCEPT (set semantics): customers with open orders but no fulfilled ones. */
  def exceptKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy("o_custkey")
  }

  val exceptKeysSql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** EXCEPT ALL (bag semantics — multiplicity-aware, unlike [[exceptKeys]]):
    * each open order's custkey survives once per unmatched occurrence.
    * Aggregated to per-key multiplicities for a deterministic compare. */
  def exceptAllKeys(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      .exceptAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .orderBy("o_custkey")
  }

  val exceptAllKeysSql: String =
    """SELECT o_custkey, COUNT(*) AS n FROM (
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |)
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** FULL OUTER join (completes the J1 outer family next to the left
    * outer): per-customer open vs fulfilled order counts, with genuinely
    * unmatched keys on BOTH sides (only-open and only-fulfilled
    * customers), coalesced to zeros. Both inputs pre-aggregate before
    * the join, so the shuffle carries one row per (status, custkey). */
  def fullOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val open = o.filter(col("o_orderstatus") === "O")
      .groupBy(col("o_custkey").as("k1")).agg(count(lit(1)).as("cnt_open"))
    val ful = o.filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("k2")).agg(count(lit(1)).as("cnt_fulfilled"))
    open.join(ful, col("k1") === col("k2"), "full_outer")
      .select(
        coalesce(col("k1"), col("k2")).as("custkey"),
        coalesce(col("cnt_open"), lit(0L)).as("n_open"),
        coalesce(col("cnt_fulfilled"), lit(0L)).as("n_fulfilled"))
      .orderBy("custkey")
  }

  val fullOuterJoinSql: String =
    """SELECT COALESCE(k1, k2) AS custkey,
      |  COALESCE(cnt_open, 0) AS n_open,
      |  COALESCE(cnt_fulfilled, 0) AS n_fulfilled
      |FROM (SELECT o_custkey AS k1, COUNT(*) AS cnt_open FROM orders
      |      WHERE o_orderstatus = 'O' GROUP BY o_custkey) a
      |FULL JOIN (SELECT o_custkey AS k2, COUNT(*) AS cnt_fulfilled FROM orders
      |      WHERE o_orderstatus = 'F' GROUP BY o_custkey) b
      |  ON k1 = k2
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- windows

  /** Top-3 orders per market segment via row_number (§2.5). Deterministic
    * tie-break on o_orderkey. */
  def windowTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("c_mktsegment", "rn", "o_orderkey", "o_totalprice")
      .orderBy("c_mktsegment", "rn")
  }

  val windowTopKSql: String =
    """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |)
      |WHERE rn <= 3
      |ORDER BY c_mktsegment, rn""".stripMargin

  /** Top-3 lineitems per return flag via the bounded-heap aggregate
    * ([[graft.plans.TopKAgg]]) — the SCALE form of `q_window_topk`'s
    * row_number: each map partition shuffles at most k×keys heap entries
    * instead of every row, and the plan is partial+final
    * ObjectHashAggregate (PlanSpec asserts it). Same semantics as the
    * window form, so the oracle is the row_number SQL shape.
    *
    * `(l_orderkey, l_linenumber)` is not unique in the synthetic data, but
    * ranking is over VALUE pairs (ord DESC, id ASC): duplicate pairs emit
    * identical output rows at whichever ranks they occupy, so both engines
    * hash identically. The array<struct> result is flattened to scalars
    * via posexplode — the driver harness can't hash array cells. */
  /** Heavy hitters over `l_returnflag` via the bounded SpaceSaving
    * aggregate ([[graft.plans.HeavyHittersAgg]]): one pass, m=16
    * counters per partial buffer regardless of input size — the
    * 100 TB shape for "which items dominate this column" when the
    * column's cardinality forbids an exact groupBy. The 3-flag column
    * sits far below m, so the sketch runs in its EXACT regime (no
    * eviction, err = 0, deterministic) and the driver oracles it
    * against a plain GROUP BY; the eviction/merge machinery and its
    * guarantee are pinned by SpaceSavingSpec on over-cardinality
    * fixtures. */
  def heavyHittersQ(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .agg(graft.plans.HeavyHittersAgg.heavyHitters(col("l_returnflag"), 16).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.item").as("item"), col("h.est").as("est"), col("h.err").as("err"))
      .orderBy(desc("est"), asc("item"))

  val heavyHittersSql: String =
    """SELECT l_returnflag AS item, COUNT(*) AS est, CAST(0 AS BIGINT) AS err
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY est DESC, item ASC""".stripMargin

  /** `approx_top_k`-style SQL surface (`q_topk_sql`): the injected
    * `heavy_hitters` aggregate driven entirely through `spark.sql`,
    * explode + ORDER BY est + LIMIT k in SQL — the one-call "top k
    * frequent items" a dashboard issues. m = 16 exceeds l_returnflag's
    * cardinality, so the sketch is in its exact deterministic regime
    * and DuckDB recomputes the same top 2 from a plain GROUP BY
    * (tie-broken identically); the SpaceSaving eviction/merge bounds
    * beyond that regime stay pinned by SpaceSavingSpec. */
  def topkSqlQ(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("graft_li_topkv")
    spark.sql(
      """SELECT h.item AS item, h.est AS est
        |FROM (SELECT explode(heavy_hitters(l_returnflag, 16)) AS h
        |      FROM graft_li_topkv)
        |ORDER BY est DESC, item ASC
        |LIMIT 2""".stripMargin)
  }

  val topkSqlSql: String =
    """SELECT l_returnflag AS item, COUNT(*) AS est
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY est DESC, item ASC
      |LIMIT 2""".stripMargin

  /** Count-Min point estimates over `l_suppkey`
    * ([[graft.plans.CountMinAgg]]): the per-key frequency complement to
    * [[heavyHittersQ]] — 4×64 counters total regardless of key
    * cardinality, distributed build (elementwise-add merge), probes
    * evaluated in-plan against the collected few-KB matrix (the
    * [[graft.plans.BloomJoin]] build-then-probe posture; the collect is
    * the 2 KB model, never data). Width 64 sits BELOW the supplier
    * cardinality at sf0.01, so hash collisions are real and the
    * min-over-rows estimate genuinely exercises the sketch — and because
    * the row hashes are md5-derived, DuckDB rebuilds the exact counter
    * matrix (bucket sums, then min over rows) and the driver hash-checks
    * the estimates cell-exact. Overestimate-only + merge-invariance are
    * pinned in CountMinSpec. */
  def cmsCountsQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.CountMinAgg
    val keys = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey").cast("long").as("l_suppkey"))
    val counters = keys
      .agg(CountMinAgg.countMin(col("l_suppkey").cast("string"), CmsDepth, CmsWidth).as("sk"))
      .head.getSeq[Long](0).toArray
    keys.filter(col("l_suppkey") <= 25).distinct()
      .select(col("l_suppkey"),
        CountMinAgg.estimateCol(counters, col("l_suppkey"), CmsDepth, CmsWidth).as("est"))
      .orderBy("l_suppkey")
  }

  private val CmsDepth = 4
  private val CmsWidth = 64
  private val CmsJoinWidth = 256

  val cmsCountsSql: String =
    s"""WITH c AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS k, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1
      |), h AS (
      |  SELECT k, cnt, d,
      |    md5_number_upper(k || '|cms' || CAST(d AS VARCHAR)) % $CmsWidth AS b
      |  FROM c, range(0, $CmsDepth) r(d)
      |), cell AS (
      |  SELECT d, b, SUM(cnt) AS s FROM h GROUP BY d, b
      |)
      |SELECT CAST(h.k AS BIGINT) AS l_suppkey, CAST(MIN(cell.s) AS BIGINT) AS est
      |FROM h JOIN cell ON h.d = cell.d AND h.b = cell.b
      |WHERE CAST(h.k AS BIGINT) <= 25
      |GROUP BY h.k
      |ORDER BY l_suppkey""".stripMargin

  /** Join-size estimation from sketches
    * ([[graft.plans.CountMinAgg.joinSizeEstimate]]): |lineitem ⋈ supplier|
    * on suppkey predicted by the min-over-rows inner product of two
    * independently-built Count-Min sketches — the pre-join cardinality
    * check a planner runs before choosing broadcast/shuffle/salted,
    * costing one narrow pass per side and zero key shuffle. The exact
    * size rides along for honesty (at 100 TB it is the expensive number
    * the estimate replaces; at oracle scale both engines compute both,
    * cell-exact — the estimate's determinism comes from the same
    * md5-derived buckets as [[cmsCountsQ]]). */
  def cmsJoinSizeQ(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.plans.CountMinAgg
    val a = Tables.lineitem(spark, sfDir).select(col("l_suppkey").cast("string").as("k"))
    val b = Tables.supplier(spark, sfDir).select(col("s_suppkey").cast("string").as("k"))
    def sk(df: DataFrame) = df
      .agg(CountMinAgg.countMin(col("k"), CmsDepth, CmsJoinWidth).as("sk"))
      .head.getSeq[Long](0).toArray
    val est = CountMinAgg.joinSizeEstimate(sk(a), sk(b), CmsDepth, CmsJoinWidth)
    val exact = a.join(b, "k").count()
    a.sparkSession.range(1).select(lit(est).as("est"), lit(exact).as("exact"))
  }

  val cmsJoinSizeSql: String =
    s"""WITH ca AS (
      |  SELECT CAST(l_suppkey AS VARCHAR) AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1
      |), cb AS (
      |  SELECT CAST(s_suppkey AS VARCHAR) AS k, COUNT(*) AS cnt FROM supplier GROUP BY 1
      |), ha AS (
      |  SELECT d, md5_number_upper(k || '|cms' || CAST(d AS VARCHAR)) % $CmsJoinWidth AS b,
      |    SUM(cnt) AS s
      |  FROM ca, range(0, $CmsDepth) r(d) GROUP BY 1, 2
      |), hb AS (
      |  SELECT d, md5_number_upper(k || '|cms' || CAST(d AS VARCHAR)) % $CmsJoinWidth AS b,
      |    SUM(cnt) AS s
      |  FROM cb, range(0, $CmsDepth) r(d) GROUP BY 1, 2
      |), ip AS (
      |  -- LEFT JOIN from every depth row: a row with ZERO overlapping
      |  -- buckets must contribute p = 0 to the min (the JVM estimator
      |  -- includes zero-product rows), not silently vanish
      |  SELECT r.range AS d, COALESCE(SUM(ha.s * hb.s), 0) AS p
      |  FROM range(0, $CmsDepth) r
      |  LEFT JOIN ha ON ha.d = r.range
      |  LEFT JOIN hb ON hb.d = ha.d AND hb.b = ha.b
      |  GROUP BY 1
      |)
      |SELECT CAST((SELECT MIN(p) FROM ip) AS BIGINT) AS est,
      |  CAST((SELECT SUM(ca.cnt * cb.cnt) FROM ca JOIN cb ON ca.k = cb.k) AS BIGINT) AS exact""".stripMargin

  def groupTopK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        col("l_extendedprice").as("price"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("li_id"))
      .groupBy(col("l_returnflag"))
      .agg(graft.plans.TopKAgg.topK(col("price"), col("li_id"), 3).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("l_returnflag"), (col("pos") + 1).as("rn"),
        col("p.id").as("li_id"), col("p.ord").as("price"))
      .orderBy("l_returnflag", "rn")

  val groupTopKSql: String =
    """SELECT l_returnflag, rn, li_id, price FROM (
      |  SELECT l_returnflag,
      |    l_orderkey * 10 + l_linenumber AS li_id,
      |    l_extendedprice AS price,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_extendedprice DESC,
      |                                l_orderkey * 10 + l_linenumber ASC) AS rn
      |  FROM lineitem
      |)
      |WHERE rn <= 3
      |ORDER BY l_returnflag, rn""".stripMargin

  /** lag() per customer: price delta vs previous order (§2.5). Per-row
    * double subtraction is IEEE-identical across engines. */
  def windowLag(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, sfDir)
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("delta", col("o_totalprice") - col("prev_price"))
      .select("o_custkey", "o_orderkey", "o_totalprice", "prev_price", "delta")
      .orderBy("o_custkey", "o_orderkey")
  }

  val windowLagSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
      |                             ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_price,
      |  o_totalprice - LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey
      |                             ORDER BY o_orderdate ASC, o_orderkey ASC) AS delta
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- strings

  /** Scalar string/regex breadth (F7): regexp_extract, split, upper,
    * substring — all Catalyst built-ins, all codegen'd. */
  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(
        col("p_partkey"),
        regexp_extract(col("p_brand"), "#(\\d+)", 1).cast("int").as("brand_num"),
        split(col("p_type"), " ").getItem(0).as("type_first"),
        upper(substring(col("p_name"), 1, 8)).as("name_prefix"))
      .orderBy("p_partkey")
      .limit(2000)

  val stringFuncsSql: String =
    """SELECT p_partkey,
      |  CAST(regexp_extract(p_brand, '#(\d+)', 1) AS INTEGER) AS brand_num,
      |  string_split(p_type, ' ')[1] AS type_first,
      |  upper(substring(p_name, 1, 8)) AS name_prefix
      |FROM part
      |ORDER BY p_partkey
      |LIMIT 2000""".stripMargin

  /** Date function breadth (F3/F5/F7): date_trunc, datediff, split+cast. */
  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        date_trunc("month", col("o_orderdate")).as("omonth"),
        split(col("o_orderpriority"), "-").getItem(0).cast("int").as("pri"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since"))
      .groupBy(col("omonth"), col("pri"))
      .agg(count(lit(1)).as("n"), max(col("days_since")).as("max_days"))
      .orderBy("omonth", "pri")

  val dateFuncsSql: String =
    """SELECT date_trunc('month', o_orderdate) AS omonth,
      |  CAST(string_split(o_orderpriority, '-')[1] AS INTEGER) AS pri,
      |  COUNT(*) AS n,
      |  MAX(CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)) AS max_days
      |FROM orders
      |GROUP BY omonth, pri
      |ORDER BY omonth, pri""".stripMargin

  /** Bloom-pruned selective join ([[graft.plans.BloomJoin]]): revenue by
    * supplier for one nation. The dim predicate keeps ~3% of suppliers,
    * so ~97% of lineitem is dropped by a codegen'd xxhash64 bit-test
    * inside the scan stage — before any exchange — instead of surviving
    * to the join. Semantically identical to the plain inner join (Bloom
    * filters have no false negatives; the join clears false positives),
    * which is exactly what the oracle checks. `expectedItems` is an upper
    * bound on dim keys — at 100 TB pass the dim-side row estimate;
    * overestimating costs ~9.6 bits/key, never correctness.
    *
    * EAGER: unlike every sibling catalog entry, CONSTRUCTING this
    * DataFrame runs a Spark job (the distributed Bloom build is a 1-row
    * dim aggregate collected to embed the filter as a plan literal —
    * see [[graft.plans.BloomJoin.buildFilter]]), so merely planning /
    * explaining q_bloom_join triggers cluster work. */
  def bloomJoin(spark: SparkSession, sfDir: String): DataFrame =
    graft.plans.BloomJoin.reducedJoin(
        Tables.lineitem(spark, sfDir),
        Tables.supplier(spark, sfDir).filter(col("s_nationkey") === 3),
        col("l_suppkey"), col("s_suppkey"), expectedItems = 100000L)
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(
        dsumProd(col("l_extendedprice"), lit(1.0) - col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("s_suppkey"))

  val bloomJoinSql: String =
    s"""SELECT s_suppkey, s_name,
       |  ${sqlSumProd("l_extendedprice", "1.0 - l_discount")} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |WHERE s_nationkey = 3
       |GROUP BY s_suppkey, s_name
       |ORDER BY s_suppkey""".stripMargin

  /** Materialized-view roll-up (`q_mv_rollup`) — the rewrite rule
    * ([[graft.plans.MaterializedAgg]]) exercised as a catalog row: the
    * query is WRITTEN against the base lineitem table (grouped on
    * `l_returnflag`, a strict subset of the registered
    * (l_returnflag, l_linestatus) cube), and the armed rule rewrites it
    * to re-aggregate the ~6-row materialized store — the base table
    * disappears from the plan (MvSpec's scan-set proof). The DuckDB
    * oracle computes from the RAW lineitem, so the row matching the
    * oracle is itself the proof the rewrite answered correctly. The MV
    * lands + registers once per (session, sfDir); measures use the
    * decimal-exact long-sum idiom and order-insensitive min/max, so the
    * re-aggregation is cell-exact by construction. */
  def mvRollup(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Landed.dir(spark, s"mv_store:$sfDir", "graft_mv_store")(
      d => graft.plans.MaterializedAgg.register(
        Tables.lineitem(spark, sfDir), Seq("l_returnflag", "l_linestatus"),
        s"$d/mv", sumLongCols = Seq("l_quantity"),
        minCols = Seq("l_extendedprice"), maxCols = Seq("l_extendedprice")))
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy("l_returnflag")
  }

  val mvRollupSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
      |  MIN(l_extendedprice) AS min_price,
      |  MAX(l_extendedprice) AS max_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** [[mvRollup]]'s filtered shape (`q_mv_rollup_filtered`): a group-col
    * predicate plus the exact (non-subset) grouping — the rewrite must
    * carry the filter onto the MV scan, and the oracle still computes
    * from the raw base, so the matching row proves the filtered rewrite
    * path end-to-end under the driver's gate (MvSpec proves the plan
    * side). Shares [[mvRollup]]'s registered store via the same memo. */
  def mvRollupFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val _ = mvRollup(spark, sfDir) // ensure the store is registered
    Tables.lineitem(spark, sfDir)
      .filter(col("l_linestatus") === "F")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val mvRollupFilteredSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem
      |WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Time-bucketed MV lattice (`q_mv_time_rollup`): the MV stores orders
    * pre-aggregated per (o_orderpriority, DAY(o_orderdate)) — the
    * `timeBuckets` register path — and the query is WRITTEN against the
    * base table grouped by `date_trunc("month", o_orderdate)`: a coarser
    * calendar unit AND a grouping subset (priority dropped). The rewrite
    * recognizes the pulled-out truncation alias, certifies month∘day =
    * month, and re-roots the truncation onto the stored day bucket — the
    * base orders scan disappears (PlanAudit + MvSpec prove the plan side;
    * the DuckDB oracle computes from RAW orders, so the matching row
    * proves the composed answer). A `date_trunc("hour", …)` query — finer
    * than stored — refuses and keeps the base plan (MvSpec). Measures are
    * count + min/max (order-insensitive, re-fold exact); at 100 TB the MV
    * holds |priorities × days| rows regardless of fact-table size, and
    * every month/quarter/year dashboard roll-up re-aggregates those. */
  def mvTimeRollup(spark: SparkSession, sfDir: String): DataFrame = {
    graft.core.Landed.dir(spark, s"mv_time_store:$sfDir", "graft_mv_time")(
      d => graft.plans.MaterializedAgg.register(
        Tables.orders(spark, sfDir), Seq("o_orderpriority"),
        s"$d/mv", minCols = Seq("o_totalprice"), maxCols = Seq("o_totalprice"),
        timeBuckets = Seq(("o_orderdate", "day"))))
    Tables.orders(spark, sfDir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("omonth"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy("omonth")
  }

  val mvTimeRollupSql: String =
    """SELECT date_trunc('month', o_orderdate) AS omonth, COUNT(*) AS n_rows,
      |  MIN(o_totalprice) AS min_price,
      |  MAX(o_totalprice) AS max_price
      |FROM orders
      |GROUP BY omonth
      |ORDER BY omonth""".stripMargin

  // ---------------------------------------------------------------- export

  val queries: Map[String, Q] = Map(
    "q_mv_rollup"         -> (mvRollup _),
    "q_mv_rollup_filtered" -> (mvRollupFiltered _),
    "q_mv_time_rollup"    -> (mvTimeRollup _),
    "q_pricing_summary"   -> (pricingSummary _),
    "q_ship_priority"     -> (shipPriority _),
    "q_revenue_forecast"  -> (revenueForecast _),
    "q_scan_filter"     -> (scanFilter _),
    "q_derive_margin"   -> (deriveMargin _),
    "q_topk"            -> (topK _),
    "q_join_inner"      -> (joinInner _),
    "q_join_multi"      -> (joinMulti _),
    "q_semi_join"       -> (semiJoin _),
    "q_anti_join"       -> (antiJoin _),
    "q_outer_join"      -> (outerJoin _),
    "q_theta_join"      -> (thetaJoin _),
    "q_agg_rollup"      -> (aggRollup _),
    "q_agg_cube"        -> (aggCube _),
    "q_grouping_sets"   -> (groupingSetsQ _),
    "q_count_distinct"  -> (countDistinct_ _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_union_slices"    -> (unionSlices _),
    "q_intersect"       -> (intersectKeys _),
    "q_except"          -> (exceptKeys _),
    "q_except_all"      -> (exceptAllKeys _),
    "q_full_outer"      -> (fullOuterJoin _),
    "q_window_topk"     -> (windowTopK _),
    "q_group_topk"      -> (groupTopK _),
    "q_heavy_hitters"   -> (heavyHittersQ _),
    "q_topk_sql"        -> (topkSqlQ _),
    "q_cms_counts"      -> (cmsCountsQ _),
    "q_cms_join_size"   -> (cmsJoinSizeQ _),
    "q_hll_registers"   -> (hllRegistersQ _),
    "q_hll_sql"         -> (hllRegistersSqlQ _),
    "q_window_lag"      -> (windowLag _),
    "q_string_funcs"    -> (stringFuncs _),
    "q_date_funcs"      -> (dateFuncs _),
    "q_bloom_join"      -> (bloomJoin _)
  )

  val oracle: Map[String, String] = Map(
    "q_mv_rollup"         -> mvRollupSql,
    "q_mv_rollup_filtered" -> mvRollupFilteredSql,
    "q_mv_time_rollup"    -> mvTimeRollupSql,
    "q_pricing_summary"   -> pricingSummarySql,
    "q_ship_priority"     -> shipPrioritySql,
    "q_revenue_forecast"  -> revenueForecastSql,
    "q_scan_filter"     -> scanFilterSql,
    "q_derive_margin"   -> deriveMarginSql,
    "q_topk"            -> topKSql,
    "q_join_inner"      -> joinInnerSql,
    "q_join_multi"      -> joinMultiSql,
    "q_semi_join"       -> semiJoinSql,
    "q_anti_join"       -> antiJoinSql,
    "q_outer_join"      -> outerJoinSql,
    "q_theta_join"      -> thetaJoinSql,
    "q_agg_rollup"      -> aggRollupSql,
    "q_agg_cube"        -> aggCubeSql,
    "q_grouping_sets"   -> groupingSetsSql,
    "q_count_distinct"  -> countDistinctSql,
    "q_union_slices"    -> unionSlicesSql,
    "q_intersect"       -> intersectKeysSql,
    "q_except"          -> exceptKeysSql,
    "q_except_all"      -> exceptAllKeysSql,
    "q_full_outer"      -> fullOuterJoinSql,
    "q_window_topk"     -> windowTopKSql,
    "q_group_topk"      -> groupTopKSql,
    "q_heavy_hitters"   -> heavyHittersSql,
    "q_topk_sql"        -> topkSqlSql,
    "q_cms_counts"      -> cmsCountsSql,
    "q_cms_join_size"   -> cmsJoinSizeSql,
    "q_hll_registers"   -> hllRegistersSql,
    "q_hll_sql"         -> hllRegistersSql,
    "q_window_lag"      -> windowLagSql,
    "q_string_funcs"    -> stringFuncsSql,
    "q_date_funcs"      -> dateFuncsSql,
    "q_bloom_join"      -> bloomJoinSql
  )
}
