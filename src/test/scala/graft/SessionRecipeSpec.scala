package graft

/** The suite runs on the bench's session recipe (`Bench.sessionBuilder`),
  * so the store protocols are proven under the exact committer and join
  * configuration the bench measures. A friendlier test-only configuration
  * once hid a crash-recovery path that trusted `_SUCCESS` markers the
  * bench never writes; this guard keeps the suite from drifting off the
  * recipe again. */
class SessionRecipeSpec extends SparkSpec {

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
}
