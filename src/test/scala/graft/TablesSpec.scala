package graft

import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Join
import graft.core.Tables

/** `Tables` infers each table's schema once per session and never shares
  * a DataFrame. Job counts come from `Bench.jobsDuring`, which drains
  * the listener bus through `GraftBridge` around the counted body. */
class TablesSpec extends SparkSpec {

  private def jobs(s: org.apache.spark.sql.SparkSession)(body: => Any): Int =
    Bench.jobsDuring(s)(body)._2.size

  test("a second read of a table in the same session launches no job") {
    val s = spark.newSession()
    assert(jobs(s)(Tables.lineitem(s, sf0001)) > 0, "the first read infers the schema")
    assert(jobs(s)(Tables.lineitem(s, sf0001)) == 0)
    // another session infers its own schema (inference reads session confs)
    val other = spark.newSession()
    assert(jobs(other)(Tables.lineitem(other, sf0001)) > 0)
  }

  test("a table file rewritten in place with another schema is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toFile
    try {
      val file = new java.io.File(dir, "region.parquet")
      def writeAs(cols: String*): Unit = {
        val tmp = new java.io.File(dir, "tmp")
        spark.range(3).selectExpr(cols: _*).coalesce(1).write.parquet(tmp.getPath)
        val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath, file.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      }
      writeAs("id AS a")
      assert(Tables.region(spark, dir.getPath).columns.toSeq == Seq("a"))
      writeAs("CAST(id AS STRING) AS b", "id * 2 AS c")
      val df = Tables.region(spark, dir.getPath)
      assert(df.columns.toSeq == Seq("b", "c"))
      assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("0", "1", "2"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("two reads of one table get distinct exprIds, so a self-join keeps its condition") {
    val a = Tables.nation(spark, sf0001)
    val b = Tables.nation(spark, sf0001)
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val joined = a.join(b, a("n_regionkey") === b("n_nationkey"))
    val conds: Seq[Expression] = joined.queryExecution.analyzed.collect {
      case j: Join => j.condition.toSeq
    }.flatten
    assert(conds.exists { case e: EqualTo => !e.left.semanticEquals(e.right); case _ => false })
    // every nation's region key (0-4) is some nation's key: one match each
    assert(joined.count() == a.count())
  }
}
