package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, so suites reuse it instead of paying ~15 s
  * of SparkContext startup each). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
  def sf01 = "/root/testdata/sf0.1"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the bench's own recipe, so every test runs the join posture and
    // committer settings the bench measures (SessionRecipeSpec guards this)
    val s = Bench.sessionBuilder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
