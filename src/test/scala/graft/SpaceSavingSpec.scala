package graft

import org.apache.spark.sql.functions._
import graft.plans.HeavyHittersAgg

class SpaceSavingSpec extends SparkSpec {
  import spark.implicits._

  private def summarize(items: Seq[String], m: Int, parts: Int) =
    items.toDF("item").repartition(parts)
      .agg(HeavyHittersAgg.heavyHitters(col("item"), m).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.item"), col("h.est"), col("h.err"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

  test("exact regime (m > cardinality): exact counts, zero error, partition-invariant") {
    val items = Seq.fill(100)("a") ++ Seq.fill(60)("b") ++ Seq.fill(3)("c")
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (parts <- Seq(1, 7)) {
      val s = summarize(scala.util.Random.shuffle(items), m = 8, parts = parts)
      assert(s.keySet == truth.keySet)
      s.foreach { case (k, (est, err)) =>
        assert(est == truth(k), s"$k at $parts parts")
        assert(err == 0L)
      }
    }
  }

  test("eviction regime: heavy items survive, estimates bound the truth") {
    // skewed stream: 2 heavy items over a 500-item tail, far more
    // distinct values than the m=16 counter budget
    val items = Seq.fill(5000)("hot1") ++ Seq.fill(3000)("hot2") ++
      (0 until 500).flatMap(i => Seq.fill(10)(s"tail$i"))
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = items.size
    val m = 16
    val s = summarize(scala.util.Random.shuffle(items), m, parts = 8)
    assert(s.size <= m, "counter budget exceeded")
    // SpaceSaving guarantee (merge-weakened): anything with true count
    // well above n/m per summary must be in the merged summary — the two
    // hot items are at 38% and 23% of the stream, orders above the bound
    assert(s.contains("hot1") && s.contains("hot2"), s"heavy items missing from $s")
    // est is an upper bound on truth, and est - err a lower bound
    s.foreach { case (k, (est, err)) =>
      assert(est >= truth(k), s"$k: est $est < true ${truth(k)}")
      assert(est - err <= truth(k), s"$k: est-err ${est - err} > true ${truth(k)}")
    }
    // and the hot estimates are tight in relative terms (tail mass is
    // spread over 500 items, so per-counter error stays small vs 5000)
    assert(math.abs(s("hot1")._1 - 5000L) <= n / m)
    assert(math.abs(s("hot2")._1 - 3000L) <= n / m)
  }

  test("SQL surface: heavy_hitters injected into the session") {
    Seq("x", "x", "y").toDF("v").createOrReplaceTempView("hh_in")
    val rows = spark.sql(
      "SELECT h.item, h.est FROM (SELECT explode(heavy_hitters(v, 4)) AS h FROM hh_in)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("x", 2L), ("y", 1L)))
  }

  test("heavy_hitters rejects a non-literal counter budget") {
    Seq("x").toDF("v").createOrReplaceTempView("hh_bad")
    val ex = intercept[Exception] {
      spark.sql("SELECT heavy_hitters(v, length(v)) FROM hh_bad").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("integer literal")), s"wrong error: $ex")
  }
}
