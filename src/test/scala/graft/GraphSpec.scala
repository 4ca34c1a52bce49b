package graft

import org.apache.spark.sql.functions._
import graft.functions.Graph
import graft.queries.TextCatalog

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connected components on a known graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("src", "dst")
    val comp = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 7L, 9L -> 7L, 10L -> 7L))
  }

  test("long chain converges (diameter > 1 iteration)") {
    val edges = (1L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val comp = Graph.connectedComponents(edges).select("comp").distinct().collect()
    assert(comp.map(_.getLong(0)).toSeq == Seq(1L))
  }

  private def components(edges: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("components of a diameter-1 graph launch at most 2 Spark jobs") {
    // the dedup case: near-dup pairs are mostly single edges, so this is
    // the round count the dedup queries pay (two rounds: one to label,
    // one to prove nothing changes). Each round is one job: its shuffle
    // stage and its count, which writes the round's checkpoint. An eager
    // checkpoint, a join that is not co-partitioned or a separate
    // convergence job per round exceeds it
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val (comp, jobs) = Bench.jobsDuring(spark)(Graph.connectedComponents(edges))
    assert(jobs.size <= 2, s"${jobs.size} jobs")
    assert(comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicate edges, reversed duplicates and self-loops change no label") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (4L, 4L), (4L, 5L),
      (5L, 5L), (5L, 4L), (6L, 2L), (6L, 6L))
    assert(components(edges) ==
      Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
  }

  test("labels match a driver-side union-find on seeded random graphs") {
    // min label per union-find class; ids span negative values and both
    // ends of the long range, and edges repeat and self-loop
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(v: Long): Long = {
        val p = parent.getOrElseUpdate(v, v)
        if (p == v) v else { val r = find(p); parent(v) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(v => v -> find(v)).toMap
    }
    val rnd = new scala.util.Random(20261020L)
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, -7L, -1L, 0L,
      Long.MaxValue - 1, Long.MaxValue)
    for (graph <- 0 until 4; nParts <- Seq(1, 3, 7)) {
      val ids = extremes ++ Seq.fill(25)(rnd.nextLong() % 1000L)
      val base = Seq.fill(20 + rnd.nextInt(20))(
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
      val edges = base ++ base.take(3) ++ base.take(2).map(_.swap) :+ (ids(0), ids(0))
      // a path of n vertices needs n rounds: never fail on diameter here
      val labels = Graph.connectedComponents(
        edges.toDF("src", "dst").repartition(nParts), maxIter = ids.size + 1)
      assert(labels.rdd.getNumPartitions == nParts)
      assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        unionFind(edges), s"graph $graph over $nParts partitions")
    }
  }

  test("an edge with a null endpoint fails, naming the null count") {
    // read as 0 it would merge unrelated vertices into component 0
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None), (Some(0L), Some(5L)))
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException](Graph.connectedComponents(edges))
    assert(e.getMessage.contains("2 edges have a null endpoint"), e.getMessage)
  }

  test("a chain needing exactly maxIter rounds converges; one more vertex fails") {
    // a path of n vertices needs n rounds: n - 1 to carry the minimum to
    // the far end, and one that changes nothing
    val maxIter = 4
    def chain(n: Int) = (1L until n.toLong).map(i => (i, i + 1))
    assert(components(chain(maxIter), maxIter) == (1L to maxIter.toLong).map(_ -> 1L).toMap)
    val e = intercept[IllegalArgumentException](components(chain(maxIter + 1), maxIter))
    assert(e.getMessage.contains(s"connectedComponents did not converge in $maxIter rounds " +
      "(1 labels still changing)"), e.getMessage)
  }

  test("dedup clusters keep exactly one representative per component") {
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("d1", "d2")
    val d = Graph.dedupClusters(pairs, "d1", "d2").collect()
    val byComp = d.groupBy(_.getLong(1))
    byComp.foreach { case (comp, rows) =>
      assert(rows.count(_.getBoolean(2)) == 1)      // one keeper
      assert(rows.find(_.getBoolean(2)).get.getLong(0) == comp) // it's the min
    }
  }

  test("corpus dedup clusters are consistent with the LSH pairs") {
    val pairs = TextCatalog.minhashLsh(spark, sf0001)
      .select(col("d1"), col("d2"))
    val nVerts = pairs.select(explode(array(col("d1"), col("d2"))).as("v"))
      .distinct().count()
    val clusters = TextCatalog.dedupClustersQ(spark, sf0001).collect()
    assert(clusters.map(_.getAs[Long]("cluster_size")).sum == nVerts)
    // every cluster drops size-1 docs
    clusters.foreach { r =>
      assert(r.getAs[Long]("n_dropped") == r.getAs[Long]("cluster_size") - 1)
    }
  }
}
