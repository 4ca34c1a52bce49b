package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The suite runs on the bench's session recipe (`Bench.sessionBuilder`),
  * so the store protocols are proven under the exact committer and join
  * configuration the bench measures, and every session carries the
  * engine's functions and as-of operator from `GraftExtensions`. A friendlier test-only configuration
  * once hid a crash-recovery path that trusted `_SUCCESS` markers the
  * bench never writes; this guard keeps the suite from drifting off the
  * recipe again. */
class SessionRecipeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("the shared test session carries the bench recipe's settings") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    assert(hadoop.get("mapreduce.fileoutputcommitter.marksuccessfuljobs") == "false")
    assert(hadoop.get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    // a fresh child session starts from the recipe, whatever runtime
    // overrides other suites left on the shared one
    assert(spark.newSession().conf.get("spark.sql.join.preferSortMergeJoin") == "false")
  }

  test("the shared session and a fresh newSession() share one codegen cache") {
    // static confs: a session built outside the recipe would silently
    // keep Spark's 100-entry cache and per-session classloaders
    // (CodegenReuseSpec measures what that costs)
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
      assert(s.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    }
  }

  test("every recipe session carries GraftExtensions: 7 functions and the as-of operator") {
    // installed once by the recipe's spark.sql.extensions; nothing in
    // this test (or anywhere else) registers them per session
    val names = Seq("cosine_sim", "top_k", "reservoir_sample", "heavy_hitters",
      "count_min", "hll_registers", "kmv_sketch")
    for (s <- Seq(spark, spark.newSession())) {
      assert(s.conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
      names.foreach(n => assert(s.catalog.functionExists(n), s"$n missing"))
      import s.implicits._
      val l = Seq((1L, 10L, 100L)).toDF("k", "ts", "lid")
      val r = Seq((1L, 5L, 200L)).toDF("k", "ts", "rid")
      val plan = graft.plans.AsOfJoin.asofBackward(l, r, Seq("k"), "ts", "ts")
        .queryExecution.executedPlan
      assert(collect(plan) { case a: graft.plans.AsOfJoinExec => a }.nonEmpty,
        s"AsOfJoinExec not planned:\n$plan")
    }
  }
}
