package graft.functions

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
  * Round shape: one join and one aggregate. `sym` is built once: both
  * edge directions plus a self-loop at each edge's endpoints, checkpointed
  * (duplicate rows, self-loops included, change no minimum, so they are
  * kept rather than paying a shuffle to drop them). Round 1 is
  * `sym.groupBy(src).min(dst)` and needs no join. Each later round joins
  * `sym` to the labels on `dst = id` and groups by `src`, producing
  * `comp = min(comp)` and `prev = min(comp where src = dst)`: the
  * self-loop brings each vertex's own label into its group, so `comp` is
  * exactly `least(own label, neighbour min)` and `prev` is the own label.
  * The round is checkpointed once, and convergence is `count(comp <
  * prev)` over the checkpointed frame's rows.
  *
  * Job counts under the session recipe (AQE on). The checkpoints are
  * lazy: each is written by the first job that reads it, so `sym` adds
  * none (round 1's shuffle stage writes it) and a round's count writes
  * the round's labels. Round 1 takes 2 jobs (the aggregate's shuffle
  * stage and the count) and each later round 3 (the labels' broadcast
  * for the join on top, while they fit under the broadcast threshold):
  * 5 for a graph of diameter 1. `localCheckpoint` cuts the lineage each
  * round (iterative DataFrame loops otherwise build exponential plans),
  * and the Spark driver sees only the per-round changed-count.
  */
object Graph {

  /** Connected components of an undirected edge list (`src`, `dst`).
    * Returns (id, comp) with comp = min vertex id in the component.
    * Fails when the labels still change after `maxIter` rounds. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .union(e.select(col("src"), col("src").as("dst")))
      .union(e.select(col("dst").as("src"), col("dst")))
      .localCheckpoint(false)
    // one round's update from (src, dst, comp = dst's current label)
    def round(neighbours: DataFrame): DataFrame =
      neighbours.groupBy(col("src")).agg(
          min(col("comp")).as("comp"),
          min(when(col("src") === col("dst"), col("comp"))).as("prev"))
        .select(col("src").as("id"), col("comp"), col("prev"))
        .localCheckpoint(false)
    var labels = sym // replaced by round 1's labels
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighbours =
        if (i == 0) sym.select(col("src"), col("dst"), col("dst").as("comp"))
        else sym.join(labels.select(col("id"), col("comp")), col("dst") === col("id"))
          .select(col("src"), col("dst"), col("comp"))
      labels = round(neighbours)
      // one job over every partition: it also writes the checkpoint
      changed = labels.filter(col("comp") < col("prev")).rdd.count()
      i += 1
    }
    // silent non-convergence would split components and corrupt the dedup
    // decision downstream — fail loudly instead
    require(changed == 0,
      s"connectedComponents did not converge in $maxIter rounds " +
        s"($changed labels still changing) — raise maxIter (graph diameter exceeds it)")
    labels.select(col("id"), col("comp"))
  }

  /** Dedup decision from near-dup pairs: cluster, keep the minimum id of
    * each component, mark the rest as duplicates. Returns
    * (id, comp, keep). Vertices not in any pair are implicitly kept. */
  def dedupClusters(pairs: DataFrame, col1: String, col2: String): DataFrame =
    connectedComponents(
      pairs.select(col(col1).as("src"), col(col2).as("dst")))
      .withColumn("keep", col("id") === col("comp"))
}
