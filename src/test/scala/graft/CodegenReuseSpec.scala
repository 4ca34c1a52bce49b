package graft

import org.apache.spark.sql.GraftBridge

/** A generated class compiles once per JVM. A warm second round of the
  * benchmark's read queries, and a second run of a store query that
  * builds its own `newSession()`, must both be served entirely from the
  * codegen cache. Spark's defaults fail both: its 100-entry cache is
  * smaller than one round of the read queries, and with artifact
  * isolation on every `newSession()` keys the cache by its own
  * classloader (see `Bench.sessionBuilder`). */
class CodegenReuseSpec extends SparkSpec {

  private def compilesDuring(names: Seq[String]): Long = {
    val c0 = GraftBridge.codegenCompiles
    names.foreach(n =>
      SparkEntry.queries(n)(spark, sf0001).write.format("noop").mode("overwrite").save())
    GraftBridge.codegenCompiles - c0
  }

  test("a second run of a newSession()-building store query compiles nothing") {
    compilesDuring(Seq("q_store_dml"))
    assert(compilesDuring(Seq("q_store_dml")) == 0)
  }

  test("a second round of the benchmark's read queries compiles nothing") {
    val reads = Seq("q_pricing_summary", "q_join_multi", "q_grouping_sets",
      "q_doc_split_safe", "q_dedup_clusters", "q_vec_ann_ivf_pq", "q_sessionize")
    compilesDuring(reads)
    assert(compilesDuring(reads) == 0)
  }
}
