package graft

import org.apache.spark.sql.functions._
import graft.plans.CountMinAgg

class CountMinSpec extends SparkSpec {
  import spark.implicits._

  private def sketch(items: Seq[String], depth: Int, width: Int, parts: Int): Array[Long] =
    items.toDF("item").repartition(parts)
      .agg(CountMinAgg.countMin(col("item"), depth, width).as("sk"))
      .head.getSeq[Long](0).toArray

  // skewed multiset over far more distinct keys than width buckets —
  // collisions are certain, so estimates genuinely exercise min-over-rows
  private val items: Seq[String] =
    Seq.fill(500)("hot") ++ Seq.fill(200)("warm") ++
      (0 until 300).flatMap(i => Seq.fill(1 + i % 5)(s"k$i"))
  private val truth: Map[String, Long] =
    items.groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("estimates never underestimate, and row-minimum beats every single row") {
    val (depth, width) = (4, 32)
    val sk = sketch(items, depth, width, parts = 8)
    truth.foreach { case (k, exact) =>
      val est = CountMinAgg.estimate(sk, k, depth, width)
      assert(est >= exact, s"underestimate for $k: $est < $exact")
      (0 until depth).foreach { d =>
        assert(est <= sk(d * width + CountMinAgg.bucket(k, d, width)),
          s"estimate above row $d counter for $k")
      }
    }
    // counter mass conservation: every row of the matrix sums to N
    val n = items.size.toLong
    (0 until depth).foreach { d =>
      assert(sk.slice(d * width, (d + 1) * width).sum == n, s"row $d mass")
    }
  }

  test("merge is elementwise addition: sketch is partition-invariant") {
    val a = sketch(items, 4, 32, parts = 1)
    val b = sketch(items, 4, 32, parts = 13)
    assert(a.sameElements(b))
  }

  test("average overestimate stays near the N/width expectation") {
    val (depth, width) = (4, 32)
    val sk = sketch(items, depth, width, parts = 4)
    val n = items.size.toDouble
    val over = truth.toSeq.map { case (k, exact) =>
      CountMinAgg.estimate(sk, k, depth, width) - exact.toDouble
    }
    // classic CMS bound: E[over] ≤ N/width per row; min over 4 rows is
    // far tighter. 2·N/width is a generous deterministic ceiling for the
    // MEAN (everything here is fixed data + fixed hashes — no flake).
    assert(over.sum / over.size <= 2.0 * n / width,
      s"mean overestimate ${over.sum / over.size} vs N/width ${n / width}")
  }

  test("in-plan estimateCol agrees with the JVM estimator (cross-spelling contract)") {
    val (depth, width) = (4, 32)
    val sk = sketch(items, depth, width, parts = 4)
    val keys = truth.keys.toSeq.sorted
    val inPlan = keys.toDF("k")
      .select(col("k"), CountMinAgg.estimateCol(sk, col("k"), depth, width).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keys.foreach { k =>
      assert(inPlan(k) == CountMinAgg.estimate(sk, k, depth, width), k)
    }
  }

  test("join-size estimate: never under, exact without bucket sharing, F2 on self") {
    val (depth, width) = (4, 32)
    val other: Seq[String] = (0 until 40).flatMap(i => Seq.fill(2 + i % 3)(s"k$i"))
    val skA = sketch(items, depth, width, parts = 4)
    val skB = sketch(other, depth, width, parts = 4)
    val otherTruth = other.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exactJoin = truth.keySet.intersect(otherTruth.keySet)
      .toSeq.map(k => truth(k) * otherTruth(k)).sum
    val est = CountMinAgg.joinSizeEstimate(skA, skB, depth, width)
    assert(est >= exactJoin, s"join-size underestimate: $est < $exactJoin")

    // self inner product bounds F2 = Σ c_k² from above
    val f2 = truth.values.map(c => c * c).sum
    assert(CountMinAgg.joinSizeEstimate(skA, skA, depth, width) >= f2)

    // collision-free regime: two disjoint singleton keys per known bucket
    // is hard to construct portably, so use width far above cardinality —
    // if no bucket holds two distinct keys the inner product IS exact
    val few = Seq("a", "a", "b", "c", "c", "c")
    val wBig = 4096
    val skF = sketch(few, depth, wBig, parts = 2)
    val collisionFree = (0 until depth).forall { d =>
      val bs = Seq("a", "b", "c").map(CountMinAgg.bucket(_, d, wBig))
      bs.distinct.size == bs.size
    }
    if (collisionFree)
      assert(CountMinAgg.joinSizeEstimate(skF, skF, depth, wBig) == 4L + 1L + 9L)
  }

  test("SQL registration: count_min(item, depth, width) plans and matches the column form") {
    items.toDF("item").createOrReplaceTempView("cms_in")
    val viaSql = spark.sql("SELECT count_min(item, 4, 32) AS sk FROM cms_in")
      .head.getSeq[Long](0).toArray
    assert(viaSql.sameElements(sketch(items, 4, 32, parts = 1)))
  }
}
