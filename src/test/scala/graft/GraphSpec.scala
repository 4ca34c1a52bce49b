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

  test("components of a diameter-1 graph launch at most 5 Spark jobs") {
    // the dedup case: near-dup pairs are mostly single edges, so this is
    // the round count the dedup queries pay (two rounds: one to label,
    // one to prove nothing changes). Round 1 takes 2 jobs and round 2
    // takes 3; an eager checkpoint, a join back to the labels or a
    // two-stage convergence count per round exceeds it
    val edges = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("src", "dst")
    val (comp, jobs) = Bench.jobsDuring(spark)(Graph.connectedComponents(edges))
    assert(jobs.size <= 5, s"${jobs.size} jobs")
    assert(comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("duplicate edges, reversed duplicates and self-loops change no label") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (4L, 4L), (4L, 5L),
      (5L, 5L), (5L, 4L), (6L, 2L), (6L, 6L))
    assert(components(edges) ==
      Map(1L -> 1L, 2L -> 1L, 6L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
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
