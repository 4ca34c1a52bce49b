package graft.functions

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal distributed graph ops for dedup clustering: near-dup PAIRS
  * aren't a dedup result until they're clustered (a≈b, b≈c ⇒ keep one of
  * {a,b,c}) — that's connected components over the pair graph.
  *
  * Min-label propagation: every vertex starts labeled with its own id;
  * each round takes the min of its own and its neighbors' labels; at
  * fixpoint the label is the component's minimum vertex id (deterministic
  * canonical representative). Rounds = graph diameter + 1, the last one
  * proving nothing changes — near-dup clusters are tiny and dense, so
  * 2-5 rounds in practice.
  *
  * The loop is procedural RDD code over pair RDDs that share one
  * `HashPartitioner`, not a DataFrame plan per round: the plan is fixed
  * and iterative, so there is nothing for Catalyst or AQE to choose, and
  * planning each round would cost the driver more than the round's work
  * on near-dup-sized graphs. The partition count is the input's, which
  * AQE has already sized by bytes.
  *
  * Round shape. `sym`, keyed by `dst` with `src` as value, is built once:
  * both edge directions plus a self-loop at each endpoint (duplicates
  * change no minimum, so they are kept), hash-partitioned and
  * local-checkpointed. Round 1 is `sym.reduceByKey(min)`, narrow because
  * `sym` is already partitioned by its key. Each later round joins `sym`
  * to the labels (narrow: both sides share the partitioner), maps each
  * row to (src, dst's label) and reduces by key with min: one shuffle,
  * and the self-loop brings each vertex's own label into its minimum.
  * Each round's labels are local-checkpointed, which keeps the
  * partitioner and cuts the lineage, and convergence is the count of
  * labels that fell below the previous round's, a narrow join.
  *
  * Job counts: one Spark job per round, with two stages. The first
  * writes the round's shuffle (round 1's is `sym`'s partitioning of the
  * input); the second is the convergence count, which also writes the
  * round's checkpoint (and, in round 1, `sym`'s). A graph of diameter 1
  * takes 2 jobs, and no round is planned by Catalyst or re-planned by AQE.
  */
object Graph {

  /** Connected components of an undirected edge list (`src`, `dst`,
    * read as bigint). Returns (id, comp) with comp = min vertex id in the
    * component. Fails on an edge with a null endpoint, and when the
    * labels still change after `maxIter` rounds. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val in = edges.select(col("src").cast("bigint"), col("dst").cast("bigint"))
      .queryExecution.toRdd
    val part = new HashPartitioner(in.getNumPartitions)
    val nulls = in.sparkContext.longAccumulator("graft.graph.nullEndpoints")
    val sym = in.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) { nulls.add(1L); Nil }
      else { val (s, d) = (r.getLong(0), r.getLong(1)); Seq(d -> s, s -> d, s -> s, d -> d) }
    }.partitionBy(part).localCheckpoint()
    var labels = sym.reduceByKey(part, math.min(_, _)).localCheckpoint() // round 1
    // one job per round over every partition: it also writes the checkpoint
    var changed = if (maxIter < 1) 1L else labels.filter { case (v, c) => c < v }.count()
    var i = 1
    while (changed > 0 && i < maxIter) {
      val next = sym.join(labels, part).values
        .reduceByKey(part, math.min(_, _)).localCheckpoint()
      changed = next.join(labels, part).filter { case (_, (c, old)) => c < old }.count()
      labels = next
      i += 1
    }
    // a null read as id 0 would merge unrelated vertices into one component
    require(nulls.value == 0,
      s"connectedComponents: ${nulls.value} edges have a null endpoint")
    // silent non-convergence would split components and corrupt the dedup
    // decision downstream — fail loudly instead
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing) — raise maxIter (graph diameter exceeds it)")
    edges.sparkSession.createDataFrame(labels).toDF("id", "comp")
  }

  /** Dedup decision from near-dup pairs: cluster, keep the minimum id of
    * each component, mark the rest as duplicates. Returns
    * (id, comp, keep). Vertices not in any pair are implicitly kept. */
  def dedupClusters(pairs: DataFrame, col1: String, col2: String): DataFrame =
    connectedComponents(
      pairs.select(col(col1).as("src"), col(col2).as("dst")))
      .withColumn("keep", col("id") === col("comp"))
}
