package graft

import org.apache.spark.sql.functions._
import graft.plans.KmvSketchAgg

class KmvSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(items: Seq[String], k: Int, parts: Int): Array[Long] =
    items.toDF("x").repartition(parts)
      .agg(KmvSketchAgg.kmv(col("x"), k).as("mins"))
      .head.getSeq[Long](0).toArray

  test("sketch is the exact k smallest distinct hashes, duplicate- and partition-insensitive") {
    val items = (0 until 2000).map(i => s"doc$i")
    val expected = items.map(KmvSketchAgg.hash63).distinct.sorted.take(32)
    assert(sketch(items, 32, parts = 1).sameElements(expected))
    assert(sketch(items ++ items, 32, parts = 11).sameElements(expected))
    // under-full regime: sketch IS the full distinct hash set
    val few = Seq("a", "b", "b", "c")
    assert(sketch(few, 32, parts = 2)
      .sameElements(Seq("a", "b", "c").map(KmvSketchAgg.hash63).sorted))
  }

  test("distinct estimate: exact when under-full, within the error regime when full") {
    val small = sketch((0 until 40).map(i => s"s$i"), 64, parts = 4)
    assert(KmvSketchAgg.estimateDistinct(small, 64) == 40.0)
    // deterministic fixture → a fixed number; pinned at ~2.5σ of 1/√(k−2)
    val n = 5000
    val full = sketch((0 until n).map(i => s"d$i"), 64, parts = 8)
    val est = KmvSketchAgg.estimateDistinct(full, 64)
    assert(math.abs(est - n) / n <= 0.35, s"est $est for $n")
  }

  test("Jaccard / intersection estimates on planted overlap") {
    val k = 256
    val a = sketch((0 until 3000).map(i => s"k$i"), k, parts = 4)
    val b = sketch((1500 until 4500).map(i => s"k$i"), k, parts = 4)
    // true: |A∩B| = 1500, |A∪B| = 4500, J = 1/3
    val j = KmvSketchAgg.jaccardEst(a, b, k)
    assert(math.abs(j - 1.0 / 3) <= 0.10, s"jaccard $j")
    val inter = KmvSketchAgg.intersectionEst(a, b, k)
    assert(math.abs(inter - 1500) / 1500.0 <= 0.30, s"intersection $inter")
    // disjoint sets: zero shared members below the union threshold
    val c = sketch((10000 until 13000).map(i => s"k$i"), k, parts = 4)
    assert(KmvSketchAgg.jaccardEst(a, c, k) <= 0.05)
  }

  test("SQL registration: kmv_sketch(x, k) matches the column form") {
    val items = (0 until 500).map(i => s"r$i")
    items.toDF("x").createOrReplaceTempView("kmv_in")
    val viaSql = spark.sql("SELECT kmv_sketch(x, 32) AS mins FROM kmv_in")
      .head.getSeq[Long](0).toArray
    assert(viaSql.sameElements(sketch(items, 32, parts = 1)))
  }
}
