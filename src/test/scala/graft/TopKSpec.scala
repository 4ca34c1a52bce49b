package graft

import org.apache.spark.sql.functions._
import graft.plans.{TopKAgg, TopKBuf}
import graft.queries.TpchCatalog

/** The bounded-heap grouped top-k aggregate (plans/TopKAggregate.scala):
  * heap mechanics under churn, cross-partition merge, tie determinism,
  * serialization round-trip, and agreement with the row_number window
  * form it exists to out-scale. */
class TopKSpec extends SparkSpec {

  test("heap keeps exactly the k best under churn, ranked (ord DESC, id ASC)") {
    val buf = new TopKBuf(3)
    // offer 100 pairs in a scrambled order; best three are ords 99, 98, 97
    val rng = new scala.util.Random(7)
    rng.shuffle((0 until 100).toList).foreach(i => buf.offer(i.toDouble, i.toLong))
    assert(buf.size == 3)
    assert(buf.sortedDesc.toSeq == Seq((99.0, 99L), (98.0, 98L), (97.0, 97L)))
  }

  test("ties rank by id ASC, and equal (ord,id) pairs don't evict each other") {
    val buf = new TopKBuf(3)
    Seq((5.0, 30L), (5.0, 10L), (5.0, 20L), (5.0, 40L)).foreach {
      case (o, i) => buf.offer(o, i)
    }
    // id 40 is the weakest of four all-tied ords → dropped
    assert(buf.sortedDesc.toSeq == Seq((5.0, 10L), (5.0, 20L), (5.0, 30L)))
    // an exact duplicate of the current weakest is NOT strictly higher →
    // rejected (mirrors row_number keeping the first k)
    buf.offer(5.0, 30L)
    assert(buf.sortedDesc.toSeq == Seq((5.0, 10L), (5.0, 20L), (5.0, 30L)))
  }

  test("absorb merges two heaps to the same result as offering all pairs") {
    val a = new TopKBuf(4); val b = new TopKBuf(4); val ref = new TopKBuf(4)
    val pairs = Seq((1.0, 1L), (9.0, 2L), (3.0, 3L), (9.0, 1L), (7.0, 9L),
      (2.0, 4L), (8.0, 8L), (7.0, 2L))
    pairs.zipWithIndex.foreach { case ((o, i), idx) =>
      (if (idx % 2 == 0) a else b).offer(o, i)
      ref.offer(o, i)
    }
    a.absorb(b)
    assert(a.sortedDesc.toSeq == ref.sortedDesc.toSeq)
  }

  test("serialize/deserialize round-trips the buffer through the agg") {
    import org.apache.spark.sql.GraftBridge
    val agg = TopKAgg(GraftBridge.expression(lit(0)), GraftBridge.expression(lit(0L)), 5)
    val buf = new TopKBuf(5)
    Seq((3.5, 7L), (1.25, 2L), (3.5, 3L)).foreach { case (o, i) => buf.offer(o, i) }
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.sortedDesc.toSeq == buf.sortedDesc.toSeq)
  }

  test("q_group_topk agrees with the row_number form under forced multi-partition merge") {
    import spark.implicits._
    // scramble lineitem across many partitions so every partial buffer is
    // non-trivial and the final merge path actually runs
    graft.core.Tables.lineitem(spark, sf0001)
      .repartition(13)
      .createOrReplaceTempView("topk_lineitem")
    val viaHeap = spark.table("topk_lineitem")
      .select(col("l_returnflag"), col("l_extendedprice").as("price"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("li_id"))
      .groupBy(col("l_returnflag"))
      .agg(TopKAgg.topK(col("price"), col("li_id"), 3).as("tk"))
      .select(col("l_returnflag"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("l_returnflag"), (col("pos") + 1).as("rn"),
        col("p.id").as("li_id"), col("p.ord").as("price"))
    val viaWindow = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("price").desc, col("li_id").asc)
      spark.table("topk_lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("price"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("li_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_returnflag"), col("rn"), col("li_id"), col("price"))
    }
    val h = viaHeap.orderBy("l_returnflag", "rn")
      .as[(String, Int, Long, Double)].collect().toSeq
    val w = viaWindow.orderBy("l_returnflag", "rn")
      .as[(String, Int, Long, Double)].collect().toSeq
    assert(h.nonEmpty && h == w)
  }

  test("SQL path: injected top_k matches the Column API") {
    import spark.implicits._
    graft.core.Tables.lineitem(spark, sf0001).createOrReplaceTempView("topk_li_sql")
    val sql = spark.sql(
      """SELECT l_returnflag,
        |  top_k(l_extendedprice, CAST(l_orderkey * 10 + l_linenumber AS BIGINT), 2) AS tk
        |FROM topk_li_sql GROUP BY l_returnflag""".stripMargin)
      .select(col("l_returnflag"), explode(col("tk")).as("p"))
      .select(col("l_returnflag"), col("p.ord"), col("p.id"))
      .orderBy("l_returnflag", "p.id")
      .as[(String, Double, Long)].collect().toSeq
    val api = graft.core.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(TopKAgg.topK(col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long"), 2).as("tk"))
      .select(col("l_returnflag"), explode(col("tk")).as("p"))
      .select(col("l_returnflag"), col("p.ord"), col("p.id"))
      .orderBy("l_returnflag", "p.id")
      .as[(String, Double, Long)].collect().toSeq
    assert(sql.nonEmpty && sql == api)
  }

  test("k larger than the group passes every row through, still ranked") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 2L), ("b", 5.0, 3L))
      .toDF("g", "o", "i")
    val out = df.groupBy(col("g"))
      .agg(TopKAgg.topK(col("o"), col("i"), 10).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "p")))
      .select(col("g"), col("pos"), col("p.ord"), col("p.id"))
      .as[(String, Int, Double, Long)].collect().toSeq.sorted
    assert(out == Seq(("a", 0, 2.0, 2L), ("a", 1, 1.0, 1L), ("b", 0, 5.0, 3L)))
  }

  test("null ord or id rows are skipped, not ranked") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Double, java.lang.Long)](
      ("a", 3.0, 1L), ("a", null, 2L), ("a", 4.0, null), ("a", 1.0, 4L))
      .toDF("g", "o", "i")
    val out = df.groupBy(col("g"))
      .agg(TopKAgg.topK(col("o"), col("i"), 2).as("tk"))
      .select(explode(col("tk")).as("p"))
      .select(col("p.ord"), col("p.id"))
      .as[(Double, Long)].collect().toSeq
    assert(out == Seq((3.0, 1L), (1.0, 4L)))
  }

  test("SQL path: GraftExtensions injects top_k and cosine_sim into a fresh session") {
    // a child session gets a fresh function registry, rebuilt from the
    // recipe's spark.sql.extensions: nothing registered on the shared
    // session can leak into it
    val s2 = spark.newSession()
    val cos = s2.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val tk = s2.sql(
      """SELECT top_k(o, i, 2) AS tk FROM VALUES
        |  (1.0D, 1L), (9.0D, 2L), (5.0D, 3L) AS t(o, i)""".stripMargin)
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((9.0, 2L), (5.0, 3L)))
    val rs = s2.sql(
      "SELECT reservoir_sample(x, 2) AS s FROM VALUES (1L), (2L), (3L) AS t(x)")
      .head().getSeq[Long](0)
    assert(rs.length == 2 && rs.distinct.length == 2 &&
      rs.forall(Set(1L, 2L, 3L)), s"bad sample $rs")
  }
}
