package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.plans.{AsOfJoin, AsOfJoinPlan}
import graft.queries.MiscCatalog

/** The native sort-merge as-of join ([[graft.plans.AsOfJoin]]): semantics
  * against the compositional twin and a brute-force oracle, the
  * null-rejection and tie-break contracts, outer extension, partitioning
  * robustness, and the plan-level claims (AsOfJoinExec planned, zero row
  * expansion, left-filter pushdown through the custom node). */
class AsOfJoinSpec extends SparkSpec {

  // planted micro-corpus: keys with dense histories, a key with ties, a
  // key with no right rows, a key whose right rows all come later, and
  // null keys/ts on both sides
  private def planted: (DataFrame, DataFrame) = {
    import spark.implicits._
    val left = Seq[(java.lang.Long, java.lang.Long, Long)](
      (1L, 100L, 1001L), (1L, 150L, 1002L), (1L, 50L, 1003L),
      (2L, 200L, 2001L),                       // key with tied right ts
      (3L, 10L, 3001L),                        // right rows all later
      (4L, 500L, 4001L),                       // no right rows at all
      (null, 100L, 5001L),                     // null key never matches
      (6L, null, 6001L),                       // null ts never matches
      (7L, 70L, 7001L)                         // right side has null ts rows
    ).toDF("k", "ts", "lid")
    val right = Seq[(java.lang.Long, java.lang.Long, Long)](
      (1L, 40L, 11L), (1L, 100L, 12L), (1L, 120L, 13L), (1L, 160L, 14L),
      (2L, 200L, 21L), (2L, 200L, 22L), (2L, 150L, 23L), // tie at 200
      (3L, 11L, 31L), (3L, 50L, 32L),
      (null, 100L, 51L),                       // null key never matches
      (7L, null, 71L), (7L, 60L, 72L), (7L, null, 73L)   // null ts skipped
    ).toDF("k", "ts", "rid")
    (left, right)
  }

  // the planted left side read back from parquet: a filter pushed onto an
  // in-memory relation is folded into it by ConvertToLocalRelation, which
  // would hide where the pushdown rule put it; on a file scan it stays a
  // Filter in the optimized plan and lands in the scan's PushedFilters
  private lazy val plantedLeftParquet: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_left").toString
    planted._1.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  // expected backward matches for the planted corpus (hand-derived)
  private val expectedInner = Set(
    (1001L, 12L),  // ts<=100: {40→11, 100→12} → max(ts,rid) = (100,12)
    (1002L, 13L),  // ts<=150: … 120→13
    (1003L, 11L),  // ts<=50: 40→11
    (2001L, 22L),  // tie at 200 → max rid wins
    (7001L, 72L)   // null-ts right rows skipped, 60→72
  )

  private def runNative(l: DataFrame, r: DataFrame, outer: Boolean): Set[(Long, Any)] =
    AsOfJoin.asofBackward(l, r, Seq("k"), "ts", "ts",
        rightTieBreaks = Seq("rid"), outer = outer)
      .select(col("lid"), col("rid"))
      .collect().map(x => (x.getLong(0), x.get(1))).toSet

  test("planted corpus: inner matches the hand-derived oracle") {
    val (l, r) = planted
    assert(runNative(l, r, outer = false) ==
      expectedInner.map { case (a, b) => (a, b: Any) })
  }

  test("planted corpus: outer keeps every left row, null-extended") {
    val (l, r) = planted
    val out = runNative(l, r, outer = true)
    assert(out.size == l.count())
    val matched = out.filter(_._2 != null).map { case (a, b) => (a, b.asInstanceOf[Long]) }
    assert(matched == expectedInner)
    assert(out.filter(_._2 == null).map(_._1) == Set(3001L, 4001L, 5001L, 6001L))
  }

  test("partitioning robustness: skewed pre-partitioned inputs re-shuffle correctly") {
    val (l, r) = planted
    assert(runNative(l.repartition(7, col("lid")), r.repartition(3), outer = false) ==
      expectedInner.map { case (a, b) => (a, b: Any) })
  }

  test("randomized corpus: native == compositional max_by form, inner and outer") {
    import spark.implicits._
    // deterministic pseudo-random corpus, multiple rows per key, dense ties
    val left = (0 until 400).map { i =>
      (i % 13L, (i * 37 % 101).toLong, 10000L + i) }.toDF("k", "ts", "lid")
    val right = (0 until 700).map { i =>
      (i % 17L, (i * 53 % 97).toLong, 20000L + i) }.toDF("k", "ts", "rid")
    val composed = left.join(right, Seq("k"))
      .filter(right("ts") <= left("ts"))
      .groupBy(col("lid"))
      .agg(max_by(col("rid"), struct(right("ts"), col("rid"))).as("rid"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val native = runNative(left, right, outer = false)
      .map { case (a, b) => (a, b.asInstanceOf[Long]) }
    assert(native == composed)
    val outer = runNative(left, right, outer = true)
    assert(outer.size == 400 &&
      outer.filter(_._2 != null).map { case (a, b) => (a, b.asInstanceOf[Long]) } == composed)
  }

  test("sf0.001 events: native twin == compositional q_asof_join") {
    val a = MiscCatalog.asofJoin(spark, sf0001).collect().toSeq
    val b = MiscCatalog.asofNative(spark, sf0001).collect().toSeq
    assert(a == b)
    // outer ⊇ inner, all purchases present, unmatched null-extended
    val outer = MiscCatalog.asofNativeOuter(spark, sf0001).collect().toSeq
    val purchases = graft.core.Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(outer.size == purchases)
    assert(outer.filter(!_.isNullAt(1)) == a)
  }

  test("plan: AsOfJoinExec is used and shuffles exactly |left| + |right| rows") {
    val e = graft.core.Tables.events(spark, sf0001)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val joinedNoSort = AsOfJoin.asofBackward(purchases, clicks, Seq("user_id"),
      "p_ts", "c_ts", rightTieBreaks = Seq("c_id"))
    assert(joinedNoSort.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "native exec not planned")
    val prof = graft.core.Metrics.measure(joinedNoSort)
    val nP = purchases.count(); val nC = clicks.count()
    // two hash exchanges (one per side), each carrying its input ONCE —
    // the zero-expansion claim, measured, not asserted in prose
    assert(prof.shuffleRecords == nP + nC,
      s"expansion: shuffled ${prof.shuffleRecords}, inputs ${nP + nC}")
    assert(prof.nHashExchanges == 2, s"expected 2 hash exchanges, got ${prof.nHashExchanges}")
  }

  test("SCD2 point-in-time probe: as-of picks the version whose validity " +
       "interval contains the probe ts") {
    // dimension history: non-purchase events as SCD2 versions (validity =
    // own ts until next version); probe: purchases. The as-of answer must
    // satisfy the interval-containment law valid_from <= p_ts < valid_to
    // — the feature-store lookup contract, checked against the interval
    // join done the expensive way.
    val e = graft.core.Tables.events(spark, sf0001)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("valid_from_us").asc, col("dim_id").asc)
    val dim = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("dim_id"),
        unix_micros(col("ts")).as("valid_from_us"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
    val probes = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("p_us"))
    val got = graft.plans.AsOfJoin.asofBackward(probes, dim, Seq("user_id"),
        "p_us", "valid_from_us", rightTieBreaks = Seq("dim_id"))
      .select(col("p_id"), col("dim_id"), col("valid_from_us"), col("valid_to_us"), col("p_us"))
      .collect()
    assert(got.nonEmpty)
    // containment law on every row
    got.foreach { r =>
      assert(r.getLong(2) <= r.getLong(4), s"valid_from after probe: $r")
      assert(r.isNullAt(3) || r.getLong(4) < r.getLong(3) ||
        // equal-ts versions share valid_from == valid_to boundaries; the
        // tie-break then picks the LAST version at that instant, whose
        // interval is the one containing ts
        r.getLong(3) == r.getLong(2), s"probe outside interval: $r")
    }
    // cross-check against the interval join done the expensive way
    val expensive = probes.join(dim, Seq("user_id"))
      .filter(col("valid_from_us") <= col("p_us") &&
        (col("valid_to_us").isNull || col("p_us") < col("valid_to_us") ||
         col("valid_to_us") === col("valid_from_us")))
      .groupBy(col("p_id"))
      .agg(max_by(col("dim_id"), struct(col("valid_from_us"), col("dim_id"))).as("dim_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == expensive)
  }

  test("pushdown rule: left-only filters move below the as-of node") {
    val r = planted._2
    val df = AsOfJoin.asofBackward(plantedLeftParquet, r, Seq("k"), "ts", "ts")
      .filter(col("lid") > 2000L)
    val optimized = df.queryExecution.optimizedPlan
    // the surviving tree must not keep a Filter ABOVE the custom node —
    // the rule (injected into the operator-optimization batch by the
    // recipe's GraftExtensions) relocates it into the left child
    val asof = optimized.collect { case a: AsOfJoinPlan => a }
    assert(asof.nonEmpty, "as-of node missing from optimized plan")
    val filterAbove = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.collect { case a: AsOfJoinPlan => a }.nonEmpty => f
    }
    assert(filterAbove.isEmpty, s"left filter not pushed:\n$optimized")
    assert(asof.head.left.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.nonEmpty,
      s"pushed filter not found in left subtree:\n$optimized")
    // in the operator batch the rule composes with Catalyst's own
    // pushdown, so the bound reaches the left parquet scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(lid,2000)"),
      s"left filter did not reach the scan's PushedFilters:\n$plan")
    // lids > 2000 with an inner match: 2001 (tie→rid 22) and 7001 (→72)
    assert(df.select(col("lid")).collect().map(_.getLong(0)).toSet == Set(2001L, 7001L))
  }

  test("bucketed co-located as-of: ZERO exchanges — the 100 TB serving shape") {
    // both sides land bucketed by the join key (sorted by (key, ts)), so
    // the scan's HashPartitioning already satisfies the exec's
    // ClusteredDistribution pair and EnsureRequirements inserts no
    // exchange at all — the whole join is scan → (local sort) → merge
    val e = graft.core.Tables.events(spark, sf0001)
    graft.core.IO.writeBucketed(
      e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts")),
      "asof_purch_b", "user_id", 4, sortCols = Seq("p_ts"))
    graft.core.IO.writeBucketed(
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts")),
      "asof_click_b", "user_id", 4, sortCols = Seq("c_ts", "c_id"))
    val df = AsOfJoin.asofBackward(
      spark.table("asof_purch_b"), spark.table("asof_click_b"),
      Seq("user_id"), "p_ts", "c_ts", rightTieBreaks = Seq("c_id"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), "native exec not planned")
    assert(!plan.contains("Exchange"), s"bucketed as-of still shuffles:\n$plan")
    // and the answer is the same one the shuffled plan produces
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val shuffled = AsOfJoin.asofBackward(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", rightTieBreaks = Seq("c_id"))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(df.select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == shuffled)
  }

  test("extension session: strategy + rule injected via spark.sql.extensions, " +
       "filter reaches the parquet scan") {
    // the shared session is built by the recipe, which sets
    // spark.sql.extensions=graft.plans.GraftExtensions
    val e = graft.core.Tables.events(spark, sf0001)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val df = AsOfJoin.asofBackward(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", rightTieBreaks = Seq("c_id"))
      .filter(col("p_id") > 100L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), "native exec not planned")
    // in the operator batch the rule composes with Catalyst's scan
    // pushdown: the p_id (= event_id) bound must appear in PushedFilters
    // plan strings elide long PushedFilters lists, so match the prefix;
    // DataFilters shows the full pushed predicate `(event_id#.. > 100)`
    assert(plan.contains("GreaterThan(event_id,1") && plan.contains("> 100)"),
      s"filter did not reach the scan:\n$plan")
    assert(df.count() > 0)

    // column pruning through the node: drag a WIDE right side in, select
    // almost nothing — PruneAsOfJoinColumns (operator batch) must narrow
    // the right child so `props`/`value` never reach the scan's ReadSchema
    val wideClicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        col("ts").as("c_ts"), col("value"), col("props"))
    val slim = AsOfJoin.asofBackward(purchases, wideClicks, Seq("user_id"),
        "p_ts", "c_ts", rightTieBreaks = Seq("c_id"))
      .select(col("p_id"), col("c_id"))
    val slimPlan = slim.queryExecution.executedPlan.toString
    assert(slimPlan.contains("AsOfJoin"))
    assert(!slimPlan.contains("props"),
      s"unused right column reached the physical plan:\n$slimPlan")
    assert(slim.count() > 0)
  }

  test("colliding right columns come back suffixed _r, never duplicated") {
    val (l, r) = planted
    val df = AsOfJoin.asofBackward(l, r, Seq("k"), "ts", "ts")
    assert(df.columns.count(_ == "ts") == 1, s"duplicate ts in ${df.columns.toSeq}")
    assert(df.columns.contains("ts_r"), s"right ts not suffixed: ${df.columns.toSeq}")
    // both columns are selectable, and the suffixed one is the RIGHT ts
    // (match ts <= left ts by the join contract)
    val rows = df.select(col("ts"), col("ts_r"), col("lid")).collect()
    assert(rows.nonEmpty)
    rows.foreach(x => assert(x.getLong(1) <= x.getLong(0),
      s"ts_r must be the matched right ts: $x"))
  }

  test("floating-point keys are rejected loudly (NormalizeFloatingNumbers bypass)") {
    import spark.implicits._
    val l = Seq((0.0, 10L, 1L)).toDF("k", "ts", "lid")
    val r = Seq((-0.0, 5L, 2L)).toDF("k", "ts", "rid")
    val e = intercept[IllegalArgumentException](
      AsOfJoin.asofBackward(l, r, Seq("k"), "ts", "ts"))
    assert(e.getMessage.contains("floating-point"))
  }

  test("column resolution follows spark.sql.caseSensitive (off by default)") {
    val (l, r) = planted
    val got = AsOfJoin.asofBackward(l, r, Seq("K"), "TS", "ts",
        rightTieBreaks = Seq("RID"))
      .select(col("lid"), col("rid"))
      .collect().map(x => (x.getLong(0), x.get(1))).toSet
    assert(got == expectedInner, "upper-cased names must resolve like any other op")
  }

  test("pushdown stops at a nondeterministic conjunct (span, not partition)") {
    val (l, r) = (plantedLeftParquet, planted._2)
    // an always-true but NONDETERMINISTIC predicate (a nondeterministic
    // UDF — rand() < 2.0 won't do: Spark folds out-of-range rand
    // comparisons to true); the deterministic conjunct BEHIND it must
    // not move below the join
    val alwaysTrue = udf(() => true).asNondeterministic()
    val df = AsOfJoin.asofBackward(l, r, Seq("k"), "ts", "ts")
      .filter(alwaysTrue() && col("lid") > 2000L)
    val optimized = df.queryExecution.optimizedPlan
    val asof = optimized.collect { case a: AsOfJoinPlan => a }
    assert(asof.nonEmpty)
    // Catalyst infers isnotnull(lid) from `lid > 2000` and puts it first,
    // so that null check may legally sit below; the `lid > 2000` conjunct
    // itself must stay above the join
    assert(asof.head.left.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case g: org.apache.spark.sql.catalyst.expressions.GreaterThan => g }
    }.flatten.isEmpty,
      s"conjunct pushed past a nondeterministic predicate:\n$optimized")
    assert(df.select(col("lid")).collect().map(_.getLong(0)).toSet == Set(2001L, 7001L))
  }
}
