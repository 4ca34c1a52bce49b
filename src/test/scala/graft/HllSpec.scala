package graft

import org.apache.spark.sql.functions._
import graft.plans.HllRegistersAgg

class HllSpec extends SparkSpec {
  import spark.implicits._

  private def registers(items: Seq[String], p: Int, parts: Int): Array[Int] =
    items.toDF("k").repartition(parts)
      .agg(HllRegistersAgg.hllRegisters(col("k"), p).as("regs"))
      .head.getSeq[Int](0).toArray

  test("bucketRank: integer contract (low-p-bit bucket, LZ+1 rank, zero-word cap)") {
    val p = 6
    (0 until 500).foreach { i =>
      val (b, r) = HllRegistersAgg.bucketRank(s"item$i", p)
      assert(b >= 0 && b < 64, s"bucket out of range: $b")
      assert(r >= 1 && r <= 65 - p, s"rank out of range: $r")
      val h = graft.functions.TextOps.md5Upper64(s"item$i|hll")
      assert(b == (h & 63L).toInt)
      val w = h >>> p
      if (w != 0L) assert(r == java.lang.Long.numberOfLeadingZeros(w) - p + 1)
    }
  }

  test("registers are duplicate-insensitive and partition-invariant (max-merge)") {
    val distinct = (0 until 3000).map(i => s"v$i")
    val withDups = distinct ++ distinct ++ distinct.take(500)
    val a = registers(distinct, 6, parts = 1)
    val b = registers(withDups, 6, parts = 13)
    assert(a.sameElements(b), "duplicates or partitioning changed the registers")
  }

  test("estimate tracks exact cardinality within the sketch's error regime") {
    // deterministic fixture + deterministic hashes → these are fixed
    // numbers, pinned at ~2σ of the 1.04/√m standard error
    for ((n, p, tol) <- Seq((2000, 6, 0.30), (20000, 10, 0.10))) {
      val est = HllRegistersAgg.estimate(registers((0 until n).map(i => s"u$i"), p, 8))
      val rel = math.abs(est - n) / n
      assert(rel <= tol, s"n=$n p=$p est=$est rel=$rel")
    }
    // small-range regime: linear counting branch handles tiny cardinalities
    val estSmall = HllRegistersAgg.estimate(registers((0 until 30).map(i => s"s$i"), 6, 2))
    assert(math.abs(estSmall - 30) / 30.0 <= 0.25, s"small-range est $estSmall")
  }

  test("SQL registration: hll_registers(k, p) matches the column form") {
    val items = (0 until 800).map(i => s"q$i")
    items.toDF("k").createOrReplaceTempView("hll_in")
    val viaSql = spark.sql("SELECT hll_registers(k, 6) AS regs FROM hll_in")
      .head.getSeq[Int](0).toArray
    assert(viaSql.sameElements(registers(items, 6, parts = 1)))
  }
}
